"""Multimodal column plumbing (BASELINE.json north star).

Images / audio / video are opaque `binary` columns plus typed metadata
structs; every transform is an Arrow-batched `mapInPandas` stage so the
Spark side — schema, partitioning, batch shape — is real and tested
even though this environment ships no codec libraries.

DECODE POLICY (r3): public containers whose decode needs nothing
beyond the stdlib are parsed FOR REAL in pure Python/numpy — BMP and
binary PPM (header + pixel layout), RIFF/WAV 16-bit PCM (chunk walk +
sample math), YUV4MPEG2 video, and PNG (chunk walk with CRC checks,
stdlib-zlib inflate, all five scanline unfilters, sequential AND Adam7
interlaced). Compressed formats with pure-Python-feasible codecs
decode FOR REAL too: QOI, GIF (LZW, both row layouts incl. four-pass
interlace), PCX (RLE), G.711 µ-law/A-law + IMA ADPCM audio, baseline JPEG
(full Huffman entropy decode + IDCT — see the T.81 section), and
lossless WebP/VP8L (canonical Huffman + LZ77 + color cache + the full
spec §4 transform family — subtract-green, 14-mode predictor, color
transform, color indexing with pixel bundling — plus §5.3 meta-prefix
groups as of r8 and, as of r9, near-distance plane codes with the
120-entry map DERIVED from the spec's proximity rule on both in-repo
sides AND color-indexing combined with other transforms in either
read order — VP8L is now decoded in FULL with zero refusals beyond
genuinely invalid streams; see the VP8L section). JPEG's DCT family
is fully real too: baseline AND progressive, 4:4:4 AND subsampled,
successive approximation, DRI/RSTn restart intervals in both frame
types (r9), and — r10 — the ENTIRE ARITHMETIC family: SEQUENTIAL
(SOF9 + DAC) and PROGRESSIVE (SOF10, full successive approximation),
both via the T.81 Annex D/F QM coder in operators/jpeg_arith.py,
validated bit-exact BOTH ways against the system libjpeg. As of r11
LOSSLESS SOF3 (Annex H spatial predictors 1-7, point transform,
restarts, any precision 2-16) and the COMPLETE 12-BIT DCT family —
extended sequential SOF1, progressive SOF2, arithmetic SOF9/SOF10 —
decode for real too; the system libjpeg is the 8-bit v6b ABI and
cannot oracle any of them, so their pins are hand-built known-answer
streams, the lossless contract itself, and cross-entropy-layer
raster identity at identical coefficients (tests). As of r12
HIERARCHICAL streams (Annex J: DHP pyramid, EXP reference expansion,
differential SOF5 sequential and SOF7 lossless frames) decode for
real in grayscale scope — color pyramids, differential progressive
SOF6, and the arithmetic differential family SOF13-15 refuse with
precise messages. The residue — video (MP4) and the JPEG variants
still refused (color-hierarchical, SOF6/SOF13-15 differential,
arithmetic-lossless SOF11) — tries the library (PIL / soundfile /
av) behind an import-guard; absent that it uses a clearly-marked
DETERMINISTIC FAKE derived from the payload's md5, so pipelines stay
testable end-to-end and oracle-checkable. Lossy VP8 itself is now
REAL and COMPLETE for WebP stills (operators/vp8.py, r9): boolean
coder, token decode, quantizers, WHT/IDCT, 16x16 AND B_PRED 4x4
intra prediction, segmentation, the in-loop deblocking filter, and
ALPH alpha planes — real-world libvpx-encoded files decode BIT-EXACT
against the system libwebp's own decoder (only interframes, which
cannot appear in stills, refuse). Swapping in a codec library
changes no schema and no plan shape.

Scale notes: binary payloads ride the scan/shuffle as plain columns —
size the partitions with spark.sql.files.maxPartitionBytes; transforms
are per-batch (no per-row Python), and metadata-only stages (frame
selection, filtering by width) run JVM-side on the extracted struct
columns without touching bytes.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

IMAGE_META_SCHEMA = (
    "doc_id long, byte_len int, width int, height int, channels int, format string"
)
FRAME_SCHEMA = "doc_id long, frame_idx int, frame_ts_ms int, frame_hash long"
AUDIO_FEATURE_SCHEMA = (
    "doc_id long, n_samples int, sample_rate int, duration_ms int, rms long"
)


def _payload_hash(data: bytes) -> int:
    return int(hashlib.md5(data).hexdigest()[:15], 16)


# Decompression-bomb guard (fuzz-caught): compressed-format headers
# declare dimensions up to 2^32, and the decoders allocate the raster
# BEFORE reading any pixel data — a 12-byte corrupt/hostile header
# could demand a multi-GB bytearray/ndarray and kill the executor with
# an OOM the ValueError fallback never sees. Raw formats (BMP/PPM) are
# implicitly bounded because their raster must already BE in the
# buffer; every compressed decode path checks this cap first. 2^26
# pixels ≈ 256 MB RGBA — far above any fixture and any sane inline
# payload (real bulk rasters route through a codec library anyway).
_MAX_DECODE_PIXELS = 1 << 26


def _check_raster_size(w: int, h: int, fmt: str) -> None:
    if w * h > _MAX_DECODE_PIXELS:
        raise ValueError(
            f"{fmt} declares {w}x{h} pixels — beyond the decoder cap"
        )


# --------------------------------------------------------------------------
# Real container parsing for the UNCOMPRESSED public formats (no codec
# library needed): BMP (BITMAPINFOHEADER, 24-bit BGR bottom-up rows
# padded to 4 bytes), binary PPM (P6), and WAV (RIFF + 16-bit PCM).
# These are the primary decode paths; PIL / the md5 FAKE remain only
# for genuinely compressed formats (JPEG/MP4 …) this image can't decode.
# --------------------------------------------------------------------------


def build_bmp(pixels) -> bytes:
    """HxWx3 uint8 RGB array → 24-bit uncompressed BMP bytes (the
    standard layout: 54-byte header, BGR pixel order, bottom-up rows,
    each row zero-padded to a 4-byte boundary)."""
    import struct

    import numpy as np

    h, w, c = pixels.shape
    assert c == 3, "build_bmp writes 24-bit RGB"
    row = w * 3
    pad = (-row) % 4
    img_size = (row + pad) * h
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + img_size, 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    bgr = pixels[::-1, :, ::-1].astype(np.uint8)  # bottom-up, RGB→BGR
    if pad:
        rows = np.zeros((h, row + pad), np.uint8)
        rows[:, :row] = bgr.reshape(h, row)
    else:
        rows = bgr.reshape(h, row)
    return header + rows.tobytes()


def parse_bmp(data: bytes):
    """BMP bytes → (width, height, HxWx3 uint8 RGB array). Raises
    ValueError on anything but the 24-bit uncompressed layout."""
    import struct

    import numpy as np

    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bits = struct.unpack_from("<H", data, 28)[0]
    comp = struct.unpack_from("<I", data, 30)[0]
    if bits != 24 or comp != 0 or w <= 0 or h == 0:
        raise ValueError("unsupported BMP variant")
    flip = h > 0  # positive height = bottom-up rows
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    raw = np.frombuffer(data, np.uint8, count=stride * h, offset=off)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    rgb = rows[:, :, ::-1]  # BGR→RGB
    return w, h, (rgb[::-1] if flip else rgb).copy()


def build_ppm(pixels) -> bytes:
    """HxWx3 uint8 RGB → binary PPM (P6)."""
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype("uint8").tobytes()


def parse_ppm(data: bytes):
    import re

    import numpy as np

    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    # Parse the header with an anchored match, NOT split(None, 3): the
    # raster begins after EXACTLY ONE whitespace byte following maxval
    # (Netpbm spec), and a generic split would also eat leading raster
    # bytes that happen to be whitespace (0x09/0x0a/0x20 pixel values),
    # misaligning the frame — or IndexError on an all-whitespace raster.
    m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)[ \t\r\n]", data)
    if m is None:
        raise ValueError("malformed PPM header")
    w, h = int(m.group(1)), int(m.group(2))
    raster = data[m.end() : m.end() + w * h * 3]
    if len(raster) < w * h * 3:
        raise ValueError("truncated PPM raster")
    return w, h, np.frombuffer(raster, np.uint8).reshape(h, w, 3).copy()


def build_wav(samples, *, sample_rate: int) -> bytes:
    """int16 mono PCM samples → WAV (RIFF) bytes."""
    import struct

    pcm = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(pcm), b"WAVE")
        + struct.pack("<4sI", b"fmt ", 16)
        + fmt
        + struct.pack("<4sI", b"data", len(pcm))
        + pcm
    )


def build_wav_ulaw(codes, *, sample_rate: int) -> bytes:
    """uint8 µ-law code array → WAV (RIFF, format 7, 8-bit) bytes."""
    import struct

    pcm = bytes(bytearray(codes))
    fmt = struct.pack("<HHIIHH", 7, 1, sample_rate, sample_rate, 1, 8)
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(pcm) + len(pcm) % 2, b"WAVE")
        + struct.pack("<4sI", b"fmt ", 16)
        + fmt
        + struct.pack("<4sI", b"data", len(pcm))
        + pcm
        + (b"\x00" if len(pcm) % 2 else b"")  # word-align the chunk
    )


def build_wav_alaw(codes, *, sample_rate: int) -> bytes:
    """uint8 A-law code array → WAV (RIFF, format 6, 8-bit) bytes."""
    import struct

    pcm = bytes(bytearray(codes))
    fmt = struct.pack("<HHIIHH", 6, 1, sample_rate, sample_rate, 1, 8)
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(pcm) + len(pcm) % 2, b"WAVE")
        + struct.pack("<4sI", b"fmt ", 16)
        + fmt
        + struct.pack("<4sI", b"data", len(pcm))
        + pcm
        + (b"\x00" if len(pcm) % 2 else b"")  # word-align the chunk
    )


# --------------------------------------------------------------------------
# IMA ADPCM (WAV format 0x11) — the public-spec STATEFUL audio codec
# (IMA Digital Audio Focus/Technical Working Groups recommended
# practices, 1992; also RFC 3551 §4.5.1 "DVI4"). Unlike µ-law (a
# memoryless per-byte companding table) every 4-bit nibble updates a
# (predictor, step-index) state carried to the next sample, so the
# decode is a genuine fold — the oracle restates it as a DuckDB
# list_reduce over the same step/index tables.
# --------------------------------------------------------------------------

# 89-entry quantizer step table and 16-entry index-adjust table, both
# verbatim from the published IMA recommendation (high bit of the
# nibble is the sign, so entries 8-15 mirror 0-7).
_ADPCM_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_ADPCM_INDEX_DELTA = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)


def decode_ima_adpcm(nibbles, predictor: int, index: int) -> list[int]:
    """4-bit nibble sequence + seed (predictor, step-index) → decoded
    int16 samples, seed predictor FIRST (the WAV block header's
    predictor IS sample 0, per the IMA WAV mapping). Pure-spec fold:
    diff = (step>>3) + b0·(step>>2) + b1·(step>>1) + b2·step, with the
    per-term truncation the spec's shift-add recipe implies (NOT a
    single (step·(2m+1))>>3 — the roundings differ); sign bit
    subtracts; predictor clamps to int16; index moves by the published
    delta table and clamps to [0, 88]."""
    if not 0 <= index <= 88:
        raise ValueError("IMA ADPCM step index out of range")
    out = [predictor]
    for n in nibbles:
        step = _ADPCM_STEPS[index]
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        predictor = predictor - diff if n & 8 else predictor + diff
        predictor = max(-32768, min(32767, predictor))
        index = max(0, min(88, index + _ADPCM_INDEX_DELTA[n & 0x0F]))
        out.append(predictor)
    return out


def build_wav_adpcm(
    nibbles, *, sample_rate: int, predictor: int = 0, index: int = 0
) -> bytes:
    """4-bit nibble sequence (even count) + seed state → WAV (RIFF,
    format 0x11 IMA ADPCM, mono) bytes: extended fmt chunk (cbSize=2,
    wSamplesPerBlock) and ONE data block — 4-byte header (int16 seed
    predictor, step index, reserved 0) then nibbles packed LOW-first
    per the IMA WAV layout."""
    import struct

    nibs = [int(n) & 0x0F for n in nibbles]
    if len(nibs) % 2:
        raise ValueError("build_wav_adpcm: nibble count must be even")
    if not 0 <= index <= 88:
        raise ValueError("build_wav_adpcm: step index out of range")
    block = struct.pack("<hBB", predictor, index, 0) + bytes(
        nibs[i] | (nibs[i + 1] << 4) for i in range(0, len(nibs), 2)
    )
    block_align = len(block)
    samples_per_block = 1 + len(nibs)
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11, 1, sample_rate,
        sample_rate * block_align // samples_per_block,
        block_align, 4, 2, samples_per_block,
    )
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(block), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"data", len(block))
        + block
    )


def _decode_adpcm_stream(pcm: bytes, block_align: int) -> list[int]:
    """IMA ADPCM data chunk → int16 samples across all blocks. Each
    block restarts the fold from its own header state; a trailing
    partial block is refused (a truncated stream must surface as the
    documented malformed-blob ValueError, not a silent short decode)."""
    import struct

    if block_align < 5:
        raise ValueError("IMA ADPCM block align too small")
    if not pcm or len(pcm) % block_align:
        raise ValueError("IMA ADPCM data is not whole blocks")
    samples: list[int] = []
    for off in range(0, len(pcm), block_align):
        predictor, index, _reserved = struct.unpack_from("<hBB", pcm, off)
        body = pcm[off + 4 : off + block_align]
        nibs = []
        for b in body:
            nibs.append(b & 0x0F)
            nibs.append(b >> 4)
        samples.extend(decode_ima_adpcm(nibs, predictor, index))
    return samples


def parse_bmp_meta(data: bytes) -> tuple[int, int]:
    """BMP header → (width, height) WITHOUT materializing the raster —
    the metadata path (decode_images) must not pay the full pixel
    decode just to report dimensions. Still validates that the
    declared raster fits the buffer, so truncation surfaces as
    ValueError exactly like the full parse."""
    import struct

    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bits = struct.unpack_from("<H", data, 28)[0]
    comp = struct.unpack_from("<I", data, 30)[0]
    if bits != 24 or comp != 0 or w <= 0 or h == 0:
        raise ValueError("unsupported BMP variant")
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    if off + stride * h > len(data):
        raise ValueError("truncated BMP raster")
    return w, h


def parse_ppm_meta(data: bytes) -> tuple[int, int]:
    """PPM header → (width, height) without touching the raster; same
    anchored header match and truncation check as parse_ppm."""
    import re

    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)[ \t\r\n]", data)
    if m is None:
        raise ValueError("malformed PPM header")
    w, h = int(m.group(1)), int(m.group(2))
    if m.end() + w * h * 3 > len(data):
        raise ValueError("truncated PPM raster")
    return w, h


def parse_wav(data: bytes):
    """WAV bytes → (n_samples, sample_rate, int16 sample array). Walks
    the RIFF chunk list (fmt may not be the first chunk in the wild)."""
    import struct

    import numpy as np

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE")
    pos, rate, channels, bits, fmt_code, block_align, pcm = 12, None, 1, 16, None, 0, None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            try:
                fmt_code, channels, rate, _, block_align, bits = struct.unpack_from(
                    "<HHIIHH", body, 0
                )
            except struct.error as e:  # truncated fmt chunk
                raise ValueError("truncated WAV fmt chunk") from e
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or pcm is None:
        raise ValueError("unsupported WAV variant")
    if channels <= 0 or rate <= 0:
        # declared-zero fields would ZeroDivisionError here and in
        # audio_features' duration math — surface as the documented
        # malformed-blob ValueError instead of killing the task
        raise ValueError("malformed WAV fmt: non-positive channels/rate")
    if fmt_code == 7 and bits == 8:
        # G.711 µ-law (public ITU-T spec): REAL companding expansion,
        # vectorized — the audio twin of the compressed-image decodes.
        # Decode per g711.c: u = ~b; t = ((u&0xF)<<3 + 0x84) << exp;
        # sample = ±(t - 0x84)
        u = (~np.frombuffer(pcm, np.uint8)).astype(np.int32) & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
        samples = np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)
    elif fmt_code == 6 and bits == 8:
        # G.711 A-law (public ITU-T spec), µ-law's European sibling:
        # a = b ^ 0x55; seg = (a>>4)&7; t = (a&15)<<4;
        # |sample| = t+8 (seg 0) else (t+0x108) << (seg-1);
        # sign bit SET means positive (opposite of µ-law's complement)
        a = np.frombuffer(pcm, np.uint8).astype(np.int32) ^ 0x55
        seg = (a >> 4) & 7
        t = (a & 0x0F) << 4
        mag = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
        samples = np.where(a & 0x80, mag, -mag).astype(np.int16)
    elif fmt_code == 1 and bits == 16:
        samples = np.frombuffer(pcm, "<i2")
    elif fmt_code == 0x11 and bits == 4:
        # IMA ADPCM (public spec): a genuinely STATEFUL decode — each
        # block's header seeds (predictor, step-index) and every nibble
        # advances it. Mono only; stereo interleaves nibbles per
        # channel in 4-byte groups, which the suite never writes.
        if channels != 1:
            raise ValueError("multi-channel IMA ADPCM unsupported")
        samples = np.array(_decode_adpcm_stream(pcm, block_align), dtype=np.int16)
    else:
        raise ValueError("unsupported WAV variant")
    return len(samples) // channels, rate, samples


# --------------------------------------------------------------------------
# Real JPEG HEADER parsing (r4): dimensions/components of a JPEG live in
# its SOFn segment, readable by a plain marker walk — the same way
# `identify`/file(1) get them — no entropy decode and no codec library
# needed. Full pixel decode of the DCT entropy stream still requires a
# codec (PIL branch / documented FAKE); the METADATA path is real.
# --------------------------------------------------------------------------

# SOFn markers that carry frame geometry: C0-CF minus DHT(C4)/JPG(C8)/DAC(CC)
_JPEG_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def build_jpeg(width: int, height: int, entropy: bytes) -> bytes:
    """Structurally-valid baseline JFIF JPEG: SOI + APP0(JFIF) + DQT +
    SOF0 (carrying width/height/3 components) + DHT + SOS + entropy
    bytes + EOI. The entropy payload is opaque to header parsers (bytes
    are pre-masked % 255 so no 0xFF ever needs stuffing); every segment
    length field is correct, so any standards-conformant marker walk
    finds SOF0. Fixed overhead: 146 bytes + len(entropy)."""
    import struct

    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    dqt = bytes([0x00]) + bytes([16] * 64)
    sof0 = struct.pack(
        ">BHHB", 8, height, width, 3
    ) + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    dht = bytes([0x00, 0, 1] + [0] * 14 + [0x00])  # one 2-bit code, symbol 0
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    clean = bytes(b % 255 for b in entropy)  # keep 0xFF out of the scan
    return (
        b"\xff\xd8"
        + seg(0xE0, app0)
        + seg(0xDB, dqt)
        + seg(0xC0, sof0)
        + seg(0xC4, dht)
        + seg(0xDA, sos)
        + clean
        + b"\xff\xd9"
    )


def parse_jpeg_meta(data: bytes) -> tuple[int, int, int]:
    """JPEG bytes → (width, height, n_components) via a real marker
    walk: skip fill bytes, step over every variable-length segment by
    its declared length, stop at the first SOFn frame header. Raises
    ValueError for non-JPEG or SOS/EOI reached before any SOFn."""
    import struct

    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0x01, *range(0xD0, 0xD8)):  # standalone (TEM/RSTn)
            pos += 2
            continue
        if marker == 0xD9:  # EOI before any frame header
            break
        length = struct.unpack_from(">H", data, pos + 2)[0]
        if length < 2 or pos + 2 + length > len(data):
            raise ValueError("bad JPEG segment length")
        if marker in _JPEG_SOF_MARKERS or marker == 0xDE:
            # DHP (hierarchical, r12) shares the SOF payload syntax and
            # carries the FULL image dims — in a hierarchical stream it
            # precedes every frame, so first match wins either way
            if pos + 10 > len(data):  # SOF payload: precision+dims+ncomp
                raise ValueError("truncated JPEG frame header")
            _prec, h, w, ncomp = struct.unpack_from(">BHHB", data, pos + 4)
            if w <= 0 or h <= 0 or ncomp <= 0:
                raise ValueError("bad JPEG frame header")
            return w, h, ncomp
        if marker == 0xDA:  # SOS: entropy stream follows, no SOF seen
            break
        pos += 2 + length
    raise ValueError("no SOF marker found")


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per PNG spec
# §8.2 — pass k covers pixels (x0 + i·dx, y0 + j·dy). Each pass is an
# independent sub-image with its own filtered scanlines; empty passes
# (zero width or height for small rasters) contribute no bytes.
ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _filter_scanlines(raw_rows, bpp: int, ftypes) -> list[bytes]:
    """Filter a 2D int16 (rows × stride) sub-image into PNG scanlines.
    `ftypes[r]` is the filter code for row r; prior row is the RAW
    previous row of the SAME sub-image (pass-local per the spec)."""
    import numpy as np

    h = raw_rows.shape[0]
    stride = raw_rows.shape[1]
    zero = np.zeros(stride, np.int16)
    lines = []
    for r in range(h):
        raw = raw_rows[r]
        prior = raw_rows[r - 1] if r > 0 else zero
        left = np.concatenate([np.zeros(bpp, np.int16), raw[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, np.int16), prior[:-bpp]])
        ft = ftypes[r]
        if ft == 0:
            out = raw
        elif ft == 1:
            out = raw - left
        elif ft == 2:
            out = raw - prior
        elif ft == 3:
            out = raw - (left + prior) // 2
        elif ft == 4:
            pred = np.fromiter(
                (_paeth(int(a), int(b), int(cc))
                 for a, b, cc in zip(left, prior, ul)),
                np.int16, stride,
            )
            out = raw - pred
        else:
            raise ValueError(f"bad filter {ft}")
        lines.append(bytes([ft]) + (out % 256).astype(np.uint8).tobytes())
    return lines


def build_png(pixels, *, filters=None, interlace: bool = False) -> bytes:
    """HxWx3 uint8 RGB → PNG bytes (color type 2, 8-bit, zlib stdlib).
    `filters` picks the scanline filter (0..4; int, or a list). For the
    non-interlaced layout a list is strictly per-row. With
    `interlace=True` the image is written in the seven Adam7 passes and
    a filter list CYCLES over the global scanline sequence across
    passes (filters[k % len]) — pass scanline counts depend on the
    raster dims, so a caller-supplied per-row list still exercises
    every filter without replicating the pass geometry."""
    import struct
    import zlib

    import numpy as np

    h, w, c = pixels.shape
    assert c == 3, "build_png writes 8-bit RGB (color type 2)"
    px = pixels.astype(np.uint8)
    bpp = 3
    if filters is None:
        filters = [0]
    elif isinstance(filters, int):
        filters = [filters]
    if not interlace:
        ftypes = [filters[r % len(filters)] for r in range(h)]
        lines = _filter_scanlines(
            px.reshape(h, w * bpp).astype(np.int16), bpp, ftypes
        )
    else:
        lines = []
        k = 0
        for x0, y0, dx, dy in ADAM7:
            sub = px[y0::dy, x0::dx, :]
            ph, pw = sub.shape[0], sub.shape[1]
            if ph == 0 or pw == 0:
                continue
            ftypes = [filters[(k + j) % len(filters)] for j in range(ph)]
            k += ph
            lines.extend(
                _filter_scanlines(
                    sub.reshape(ph, pw * bpp).astype(np.int16), bpp, ftypes
                )
            )
    idat = zlib.compress(b"".join(lines))

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlace else 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def parse_png_meta(data: bytes) -> tuple[int, int, int]:
    """PNG bytes → (width, height, channels) from IHDR alone — no
    decompression, the cheap metadata path."""
    import struct

    if data[:8] != PNG_SIG or data[12:16] != b"IHDR":
        raise ValueError("not a PNG")
    if len(data) < 26:  # sig+len+IHDR+10 header bytes — guard BEFORE
        # unpack: struct.error is not ValueError and would escape the
        # malformed-blob fallback and kill the task (the JPEG lesson)
        raise ValueError("truncated PNG header")
    w, h, depth, color = struct.unpack_from(">IIBB", data, 16)
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError("bad PNG color type")
    _check_raster_size(w, h, "PNG")
    return w, h, channels


def _unfilter_rows(raw: bytes, h: int, stride: int, bpp: int, offset: int):
    """Unfilter `h` PNG scanlines of `stride` raster bytes starting at
    `offset` in the inflated stream → (h × stride) uint8 array. The
    prior row is the DECODED previous row of the same sub-image
    (pass-local for interlaced layouts). Sub/Average/Paeth
    reconstruction is sequential in the decoded left neighbor, so those
    rows run a per-byte loop — fixture images are tiny; a bulk raster
    decode would route through a codec library instead."""
    import numpy as np

    out = np.zeros((h, stride), np.uint8)
    for r in range(h):
        base = offset + r * (stride + 1)
        ft = raw[base]
        line = np.frombuffer(
            raw, np.uint8, count=stride, offset=base + 1
        ).astype(np.int32)
        prior = out[r - 1].astype(np.int32) if r > 0 else np.zeros(stride, np.int32)
        if ft == 0:
            rec = line
        elif ft == 2:
            rec = (line + prior) % 256
        elif ft in (1, 3, 4):
            rec = np.zeros(stride, np.int32)
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prior[i]
                c = int(prior[i - bpp]) if i >= bpp else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    pred = _paeth(int(a), int(b), c)
                rec[i] = (line[i] + pred) % 256
        else:
            raise ValueError(f"bad PNG filter {ft}")
        out[r] = rec.astype(np.uint8)
    return out


def parse_png(data: bytes):
    """PNG bytes → (width, height, HxWx3 uint8 RGB). Full real decode
    for the 8-bit truecolor layout, non-interlaced AND Adam7
    interlaced: chunk walk with CRC verification, zlib inflate, per-row
    UNFILTERING of all five scanline filters (None/Sub/Up/Average/
    Paeth) — pass-local for interlaced streams, whose seven sub-images
    then scatter back onto the raster on the ADAM7 grid."""
    import struct
    import zlib

    import numpy as np

    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = []
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack_from(">I", data, pos), data[pos + 4 : pos + 8]
        if pos + 12 + length > len(data):
            # declared chunk runs past the buffer — bounds-check before
            # the body/CRC unpacks so truncation surfaces as ValueError,
            # never struct.error (which escapes the fallback branches)
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(ctype + body) != crc:
            raise ValueError(f"PNG CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            if len(body) < 13:
                raise ValueError("truncated PNG IHDR")
            w, h, depth, color, _, _, interlace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or color != 2 or interlace not in (0, 1):
                raise ValueError("unsupported PNG variant")
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    bpp = 3
    if interlace == 0:
        passes = [(0, 0, 1, 1)]
    else:
        passes = ADAM7
    # per-pass sub-image dims; empty passes carry no scanlines
    dims = []
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        dims.append((pw, ph))
    expected = sum(ph * (pw * bpp + 1) for pw, ph in dims if pw and ph)
    try:
        # bounded inflate (fuzz-caught): a tiny hostile IDAT can
        # declare-small dims but inflate to gigabytes — decompressobj
        # with max_length caps the output at the raster size the
        # (already capped) IHDR promises, so a zlib bomb surfaces as
        # the size-mismatch ValueError instead of an executor OOM
        dec = zlib.decompressobj()
        raw = dec.decompress(b"".join(idat), expected + 1)
    except zlib.error as e:
        raise ValueError("corrupt PNG IDAT stream") from e
    if len(raw) != expected or dec.unconsumed_tail:
        raise ValueError("PNG raster size mismatch")
    img = np.zeros((h, w, bpp), np.uint8)
    offset = 0
    for (x0, y0, dx, dy), (pw, ph) in zip(passes, dims):
        if pw == 0 or ph == 0:
            continue
        stride = pw * bpp
        sub = _unfilter_rows(raw, ph, stride, bpp, offset)
        offset += ph * (stride + 1)
        img[y0::dy, x0::dx, :] = sub.reshape(ph, pw, bpp)
    return w, h, img


def _decode_image_meta(data: bytes) -> tuple[int, int, int, str]:
    """width, height, channels, format. Real paths: native BMP/PPM
    parse, then PIL for anything else. Fake path: md5-derived dimensions
    (DETERMINISTIC FAKE — see module doc; compressed formats only)."""
    try:
        if data[:2] == b"BM":
            w, h = parse_bmp_meta(data)  # header-only: no raster build
            return w, h, 3, "BMP"
        if data[:2] == b"P6":
            w, h = parse_ppm_meta(data)
            return w, h, 3, "PPM"
        if data[:8] == PNG_SIG:
            w, h, c = parse_png_meta(data)
            return w, h, c, "PNG"
        if data[:4] == QOI_MAGIC:
            w, h, c = parse_qoi_meta(data)
            return w, h, c, "QOI"
        if data[:6] in GIF_MAGICS:
            w, h, c = parse_gif_meta(data)
            return w, h, c, "GIF"
        if data[:1] == b"\x0a" and len(data) >= 128 and data[2:3] == b"\x01":
            w, h, c = parse_pcx_meta(data)
            return w, h, c, "PCX"
        if data[:2] == b"\xff\xd8":
            w, h, c = parse_jpeg_meta(data)  # real SOFn marker walk
            return w, h, c, "JPEG"
        if data[:4] in TIFF_MAGICS:
            w, h, c = parse_tiff_meta(data)  # real IFD walk, both endians
            return w, h, c, "TIFF"
        if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
            w, h, alpha, _variant = parse_webp_meta(data)  # real chunk walk
            return w, h, 4 if alpha else 3, "WEBP"
    except ValueError:
        pass  # malformed header — fall through like any undecodable blob
    try:  # pragma: no cover - PIL absent in this environment
        from PIL import Image  # noqa: PLC0415
        import io  # noqa: PLC0415

        img = Image.open(io.BytesIO(data))
        return img.width, img.height, len(img.getbands()), img.format or "RAW"
    except Exception:
        h = _payload_hash(data)
        return h % 640 + 1, h % 480 + 1, h % 3 + 1, "FAKE"


def decode_images(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """binary → typed image metadata (one row per input row)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                data = bytes(payload)
                w, h, c, fmt = _decode_image_meta(data)
                out.append((doc_id, len(data), w, h, c, fmt))
            yield pd.DataFrame(
                out,
                columns=["doc_id", "byte_len", "width", "height", "channels", "format"],
            )

    return _decode_map(df, run, IMAGE_META_SCHEMA)


def sample_frames(
    df: DataFrame, *, payload_col: str = "payload", fps_ms: int = 1000, max_frames: int = 8
) -> DataFrame:
    """Video frame sampling (1→N flatMap): emit one row per sampled
    frame with a deterministic frame fingerprint. Frame COUNT and
    timestamps are real logic (duration derived from payload length);
    the frame DECODE is the stub (frame_hash = md5(payload ‖ index))."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                data = bytes(payload)
                duration_ms = len(data) * 10  # stub: 10ms per byte
                n = min(max_frames, max(1, duration_ms // fps_ms))
                for i in range(int(n)):
                    ts = i * fps_ms
                    fh = _payload_hash(data + str(i).encode())
                    out.append((doc_id, i, ts, fh))
            yield pd.DataFrame(
                out, columns=["doc_id", "frame_idx", "frame_ts_ms", "frame_hash"]
            )

    return _decode_map(df, run, FRAME_SCHEMA)


def audio_features(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """Audio feature extraction: sample count / rate / duration /
    sum-of-|sample| energy ('rms' column). Real paths: native RIFF/WAV
    parse (16-bit PCM, µ-law/A-law expansion, IMA ADPCM) and the full
    FLAC decode (fixed/LPC prediction + Rice entropy coding — no codec
    library). Fallback for other blobs: byte statistics
    (sum of byte values as 'RMS' — deterministic)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                data = bytes(payload)
                try:
                    if data[:4] == FLAC_MAGIC:
                        n_samples, rate, samples = parse_flac(data)
                    else:
                        n_samples, rate, samples = parse_wav(data)
                    energy = int(np.abs(samples.astype(np.int64)).sum())
                except ValueError:
                    n_samples, rate = len(data), 16_000
                    energy = sum(data)
                out.append(
                    (
                        doc_id,
                        n_samples,
                        rate,
                        n_samples * 1000 // rate,
                        energy,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_samples", "sample_rate", "duration_ms", "rms"],
            )

    return _decode_map(df, run, AUDIO_FEATURE_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id long, width int, height int, channels int, data binary, px_checksum long"
)


def _decode_image_pixels(data: bytes):
    """bytes → HxWxC uint8 pixel array. Real paths: native BMP/PPM
    parse, then PIL. Fake path: the md5-derived dimensions from
    `_decode_image_meta` filled by TILING the payload bytes
    (DETERMINISTIC FAKE — compressed formats only; everything
    downstream of this function is real pixel math)."""
    import numpy as np

    try:
        if data[:2] == b"BM":
            return parse_bmp(data)[2]
        if data[:2] == b"P6":
            return parse_ppm(data)[2]
        if data[:8] == PNG_SIG:
            return parse_png(data)[2]
        if data[:4] == QOI_MAGIC:
            return parse_qoi(data)[2]
        if data[:6] in GIF_MAGICS:
            return parse_gif(data)[2]
        if data[:1] == b"\x0a" and len(data) >= 128 and data[2:3] == b"\x01":
            return parse_pcx(data)[2]
        if data[:2] == b"\xff\xd8":
            # real decode (baseline/progressive/arithmetic incl.
            # SOF9+SOF10, lossless SOF3, the full 12-bit DCT family,
            # r12 grayscale hierarchical); the refused variants
            # (color-hierarchical, SOF6/SOF13-15, SOF11) and the
            # legacy header-only fixtures (which declare no AC
            # Huffman table) raise and keep the documented fake path
            return parse_jpeg(data)[2]
        if data[:4] in TIFF_MAGICS:
            return parse_tiff(data)[2]
        if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
            # real VP8L decode + real subset lossy-VP8 decode;
            # out-of-subset VP8 raises and keeps the documented fake
            return parse_webp_pixels(data)[2]
    except ValueError:
        pass
    try:  # pragma: no cover - PIL absent in this environment
        from PIL import Image  # noqa: PLC0415
        import io  # noqa: PLC0415

        img = Image.open(io.BytesIO(data))
        return np.asarray(img).reshape(img.height, img.width, -1)
    except Exception:
        w, h, c, _ = _decode_image_meta(data)
        flat = np.frombuffer(data, dtype=np.uint8) if data else np.zeros(1, np.uint8)
        return np.resize(flat, (h, w, c))


def _bilinear_resize(img, out_h: int, out_w: int):
    """Vectorized bilinear interpolation with half-pixel centers (the
    OpenCV/PIL convention: src = (dst + 0.5) * scale - 0.5), uint8 out
    with round-half-away clamping. Real math — no codec involved."""
    import numpy as np

    h, w, _ = img.shape
    # clamp source coords BEFORE floor/frac (edge replicate) — otherwise
    # the left/top edge pairs a 0.75 frac with clipped neighbors and the
    # output is non-monotone at the border
    ys = np.clip((np.arange(out_h) + 0.5) * (h / out_h) - 0.5, 0, h - 1)
    xs = np.clip((np.arange(out_w) + 0.5) * (w / out_w) - 0.5, 0, w - 1)
    yf, xf = np.floor(ys), np.floor(xs)
    wy = (ys - yf)[:, None, None]
    wx = (xs - xf)[None, :, None]
    y0 = np.clip(yf.astype(np.int64), 0, h - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x0 = np.clip(xf.astype(np.int64), 0, w - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    f = img.astype(np.float64)
    top = f[y0][:, x0] * (1 - wx) + f[y0][:, x1] * wx
    bot = f[y1][:, x0] * (1 - wx) + f[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def resize_images(
    df: DataFrame, *, payload_col: str = "payload", width: int = 224, height: int = 224
) -> DataFrame:
    """Image resize: decode (stubbed codec per STUB POLICY) → REAL
    vectorized numpy bilinear interpolation → resized pixel buffer as a
    binary column plus a checksum for cheap downstream verification.
    Arrow-batched mapInPandas; payload bytes never cross a shuffle —
    the stage is map-only, so at 100 TB it scales with scan parallelism."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                img = _decode_image_pixels(bytes(payload))
                resized = _bilinear_resize(img, height, width)
                buf = resized.tobytes()
                out.append(
                    (
                        doc_id,
                        width,
                        height,
                        img.shape[2],
                        buf,
                        int(np.uint64(0) + resized.sum(dtype=np.uint64)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "width", "height", "channels", "data", "px_checksum",
                ],
            )

    return _decode_map(df, run, RESIZED_SCHEMA)


# --------------------------------------------------------------------------
# Planted-media fixture builders (the r2-VERDICT pattern: derive REAL
# container payloads from the documents table with closed-form
# dimensions, so the decode queries' oracles can state the expected
# metadata in plain SQL while the Spark side round-trips actual bytes
# through the real parsers above). Arrow-batched like every other
# multimodal stage.
# --------------------------------------------------------------------------


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a (doc_id, text)-sized projection to the session's
    full parallelism before entering a Python codec chain. Codec stages
    are CPU-bound, not scan-bound: a small table often arrives as ONE
    scan partition (observed at sf0.1 — the whole plant→decode chain
    ran as a single task on a 32-core session), and the chain inherits
    the planter's partitioning because back-to-back mapInPandas stages
    add no exchange. The shuffle moves only ids + text, negligible
    against the per-row encode/decode CPU; on a real cluster it also
    decouples codec parallelism from file layout (a 100 TB corpus may
    still have skewed or few-but-huge files)."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def _planted(src: DataFrame, run, schema: str) -> DataFrame:
    """Planter tail-call: spread + mapInPandas, remembering (src, run)
    on the returned DataFrame so a directly-chained decode stage can
    FUSE with the planter (r13 optimization, guide §4.1 — every
    chained Python map operator is its own JVM↔Python round trip;
    measured ~0.15-0.35 s of pure boundary latency per extra hop at 32
    tasks even for an identity function). The attribute is advisory:
    any consumer that is not `_decode_map` simply executes the planted
    frame as before."""
    out = _spread(src).mapInPandas(run, schema=schema)
    out._plant_fusion = (src, run)
    return out


def _decode_map(df: DataFrame, run, schema) -> DataFrame:
    """Decoder entry: when `df` came straight from a `_planted` call,
    chain the planter's batch generator into the decoder's inside ONE
    mapInPandas — payload bytes then never cross back through the JVM
    between plant and decode. Otherwise behave exactly as
    df.mapInPandas(run, schema). Result rows are identical either way
    (the intermediate frame was a pure pass-through)."""
    fusion = getattr(df, "_plant_fusion", None)
    if fusion is None:
        return df.mapInPandas(run, schema=schema)
    src, prun = fusion

    def chained(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from run(prun(batches))

    return _spread(src).mapInPandas(chained, schema=schema)


def plant_bmp_payloads(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, payload): a real 24-bit BMP whose
    dimensions are closed-form in doc_id (w = id%61+4, h = id%37+4) and
    whose pixels tile the UTF-8 bytes of `text`."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text_val in zip(pdf["doc_id"], pdf[text_col]):
                w, h = int(doc_id) % 61 + 4, int(doc_id) % 37 + 4
                raw = (text_val or "").encode("utf-8") or b"\0"
                px = np.resize(np.frombuffer(raw, np.uint8), (h, w, 3))
                out.append((doc_id, build_bmp(px)))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


def plant_png_payloads(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, payload): a REAL PNG (8-bit RGB,
    zlib-compressed) with closed-form dimensions (w = id%48+4,
    h = id%32+4), pixels tiling the UTF-8 bytes of `text`, and the
    scanline filter of row r set to (id + r) % 5 — every payload
    exercises all five PNG filter codecs, so an encode- or decode-side
    filter bug anywhere breaks the pixel sums the oracle states in
    closed form (filters are lossless, so px_sum is filter-invariant).
    Odd doc_ids are written ADAM7-INTERLACED (also lossless — the
    closed-form oracle is layout-invariant too), so the same gate row
    certifies both the progressive and the sequential decode paths."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text_val in zip(pdf["doc_id"], pdf[text_col]):
                d = int(doc_id)
                w, h = d % 48 + 4, d % 32 + 4
                raw = (text_val or "").encode("utf-8") or b"\0"
                px = np.resize(np.frombuffer(raw, np.uint8), (h, w, 3))
                filters = [(d + r) % 5 for r in range(h)]
                out.append(
                    (doc_id, build_png(px, filters=filters, interlace=d % 2 == 1))
                )
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


IMAGE_STATS_SCHEMA = (
    "doc_id long, width int, height int, channels int, format string, px_sum long"
)


def decode_image_stats(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """binary → FULL pixel decode + statistics (dims, channels, format,
    integer pixel sum). Unlike decode_images (header-only metadata),
    this path must reconstruct every pixel, so it proves the raster
    decode — for PNG that is inflate + unfilter, not just IHDR."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                data = bytes(payload)
                _, _, _, fmt = _decode_image_meta(data)
                px = _decode_image_pixels(data)
                h, w, c = px.shape
                out.append(
                    (doc_id, w, h, c, fmt, int(px.sum(dtype=np.int64)))
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "width", "height", "channels", "format", "px_sum"],
            )

    return _decode_map(df, run, IMAGE_STATS_SCHEMA)


def plant_wav_payloads(df: DataFrame) -> DataFrame:
    """(doc_id, …) → (doc_id, payload): a real 16-bit mono PCM WAV with
    closed-form sample count (id%200+50), rate (16 kHz even ids / 8 kHz
    odd) and samples s_i = (id*31 + i*7) % 1001 - 500."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 200 + 50
                rate = 16_000 if d % 2 == 0 else 8_000
                samples = ((d * 31 + 7 * np.arange(n, dtype=np.int64)) % 1001 - 500)
                out.append((doc_id, build_wav(samples, sample_rate=rate)))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


def plant_ulaw_payloads(df: DataFrame) -> DataFrame:
    """(doc_id, …) → (doc_id, payload): a real G.711 µ-law WAV
    (format 7) with closed-form code bytes b_i = (id·13 + i·7) % 256,
    n = id%160+40 samples at 8 kHz — the telephony container the
    µ-law expansion path decodes for real."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 160 + 40
                codes = (d * 13 + 7 * np.arange(n, dtype=np.int64)) % 256
                out.append(
                    (doc_id, build_wav_ulaw(codes.astype(np.uint8), sample_rate=8000))
                )
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


def plant_alaw_payloads(df: DataFrame) -> DataFrame:
    """(doc_id, …) → (doc_id, payload): a real G.711 A-law WAV
    (format 6) with closed-form code bytes b_i = (id·17 + i·11) % 256,
    n = id%140+50 samples at 8 kHz."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 140 + 50
                codes = (d * 17 + 11 * np.arange(n, dtype=np.int64)) % 256
                out.append(
                    (doc_id, build_wav_alaw(codes.astype(np.uint8), sample_rate=8000))
                )
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


def plant_adpcm_payloads(df: DataFrame) -> DataFrame:
    """(doc_id, …) → (doc_id, payload): a real IMA ADPCM WAV
    (format 0x11) with closed-form nibbles n_i = (id·11 + i·5) % 16
    (count 2·(id%60+20), always even) and a closed-form SEED STATE —
    predictor (id·97)%2001−1000, step index id%89 — so the fixture
    sweeps the whole 89-entry step table and both signs of the
    predictor, at 8 kHz."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 2 * (d % 60 + 20)
                nibs = (d * 11 + 5 * np.arange(n, dtype=np.int64)) % 16
                out.append(
                    (
                        doc_id,
                        build_wav_adpcm(
                            nibs.tolist(),
                            sample_rate=8000,
                            predictor=(d * 97) % 2001 - 1000,
                            index=d % 89,
                        ),
                    )
                )
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


def plant_jpeg_payloads(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, payload): a structurally-valid JPEG
    with closed-form dimensions (w = id%53+4, h = id%43+4) and an
    entropy payload of id%97+16 bytes tiled from the UTF-8 text (masked
    % 255 by build_jpeg). byte_len is closed-form: 146 + id%97+16."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text_val in zip(pdf["doc_id"], pdf[text_col]):
                d = int(doc_id)
                w, h = d % 53 + 4, d % 43 + 4
                raw = (text_val or "").encode("utf-8") or b"\0"
                entropy = np.resize(
                    np.frombuffer(raw, np.uint8), d % 97 + 16
                ).tobytes()
                out.append((doc_id, build_jpeg(w, h, entropy)))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


# --------------------------------------------------------------------------
# Real VIDEO container parsing: YUV4MPEG2 (.y4m) — the public
# uncompressed video interchange format (plain-text stream header,
# then per-frame "FRAME\n" + raw planar YUV). C420 layout: Y plane
# (w·h bytes) + U,V quarter planes. Pure numpy; no codec library.
# --------------------------------------------------------------------------

VIDEO_FRAME_SCHEMA = (
    "doc_id long, frame_idx int, frame_ts_ms int, width int, height int, luma_sum long"
)


def build_y4m(frames, *, fps: int = 25) -> bytes:
    """list of HxW uint8 luma planes (even dims) → Y4M bytes with
    neutral (128) chroma."""
    import numpy as np

    h, w = frames[0].shape
    assert w % 2 == 0 and h % 2 == 0, "C420 needs even dimensions"
    header = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420\n".encode()
    chroma = np.full((h // 2) * (w // 2), 128, np.uint8).tobytes()
    parts = [header]
    for f in frames:
        parts.append(b"FRAME\n")
        parts.append(f.astype(np.uint8).tobytes())
        parts.append(chroma)  # U
        parts.append(chroma)  # V
    return b"".join(parts)


def parse_y4m(data: bytes):
    """Y4M bytes → (width, height, fps, list of HxW uint8 luma planes).
    Walks the real container: stream-header parameter fields, then
    fixed-size FRAME records (frame headers may carry parameters too —
    everything up to the newline is skipped per spec)."""
    import numpy as np

    if not data.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = data.index(b"\n")
    w = h = fps = None
    for tok in data[:nl].split()[1:]:
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"F":
            num, den = tok[1:].split(b":")
            fps = int(num) // max(1, int(den))
    if not w or not h:
        raise ValueError("Y4M header missing dimensions")
    ysize, csize = w * h, (w // 2) * (h // 2)
    frames, pos = [], nl + 1
    while pos < len(data):
        if data[pos : pos + 5] != b"FRAME":
            raise ValueError("corrupt FRAME marker")
        pos = data.index(b"\n", pos) + 1  # frame headers end at newline
        plane = np.frombuffer(data, np.uint8, count=ysize, offset=pos)
        frames.append(plane.reshape(h, w).copy())
        pos += ysize + 2 * csize
    return w, h, fps or 25, frames


def decode_video_frames(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """binary Y4M → one row per frame with REAL decoded luma statistics
    (1→N flatMap, Arrow-batched). Wrong stride/offset math in the
    parser reads chroma or the next frame's plane and breaks luma_sum —
    the oracle computes the expected sums in closed form."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                w, h, fps, frames = parse_y4m(bytes(payload))
                for i, plane in enumerate(frames):
                    out.append(
                        (
                            doc_id,
                            i,
                            i * 1000 // fps,
                            w,
                            h,
                            int(plane.sum(dtype=np.int64)),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "frame_idx", "frame_ts_ms", "width", "height", "luma_sum",
                ],
            )

    return _decode_map(df, run, VIDEO_FRAME_SCHEMA)


def plant_y4m_payloads(df: DataFrame) -> DataFrame:
    """(doc_id, …) → (doc_id, payload): a real Y4M clip with closed-form
    geometry (w = (id%30+2)·2, h = (id%20+2)·2, id%6+2 frames @25fps)
    and row-constant luma Y(frame f, row r) = (id + f·31 + r) % 256 —
    so per-frame luma_sum = w · Σ_r ((id + f·31 + r) % 256) is
    SQL-expressible while stride errors anywhere in the builder or the
    parser still break it."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = (d % 30 + 2) * 2, (d % 20 + 2) * 2
                n = d % 6 + 2
                frames = [
                    np.tile(
                        ((d + f * 31 + np.arange(h, dtype=np.int64)) % 256)
                        .astype(np.uint8)[:, None],
                        (1, w),
                    )
                    for f in range(n)
                ]
                out.append((doc_id, build_y4m(frames)))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


# --------------------------------------------------------------------------
# QOI ("Quite OK Image", qoiformat.org — public-domain spec) — a REAL
# compressed format decodable with zero codec libraries (r5 VERDICT #5):
# byte-oriented ops (RUN / INDEX / DIFF / LUMA / RGB) over a rolling
# 64-entry color index. Moves one more compressed format from the md5
# FAKE branch to real pixels; the per-pixel loop matches the parse_png
# precedent (fixture images are tiny; bulk rasters would route through
# a codec library).
# --------------------------------------------------------------------------

QOI_MAGIC = b"qoif"
_QOI_END = b"\x00" * 7 + b"\x01"


def build_qoi(pixels) -> bytes:
    """HxWx3 uint8 RGB array → QOI bytes (channels=3, sRGB-linear
    colorspace byte 0). Emits every op the spec defines when the data
    allows it: maximal runs (≤62), index hits, 2-bit DIFF, LUMA, and
    the RGB literal fallback — so a decoder bug in any op breaks the
    closed-form pixel sums the oracle states."""
    import struct

    h, w, c = pixels.shape
    assert c == 3, "build_qoi writes 24-bit RGB"
    out = bytearray(QOI_MAGIC)
    out += struct.pack(">IIBB", w, h, 3, 0)
    emit = out.append
    # Spec inits: the color index is ZEROED ({0,0,0,0} per qoi.c's
    # QOI_ZEROARR); only the previous pixel starts as (0,0,0,255).
    # Review-caught: initializing the index to (0,0,0,255) made the
    # encoder emit INDEX ops against slots it never wrote — roundtrip-
    # consistent with the matching decoder bug, but NOT interoperable
    # with spec-compliant codecs (a compliant decoder would return
    # transparent black for those pixels).
    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    pr = pg = pb = 0
    run = 0
    flat = pixels.reshape(-1, 3).tolist()
    for r, g, b in flat:
        px = (r, g, b, 255)
        if px == prev:
            run += 1
            if run == 62:
                emit(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            emit(0xC0 | (run - 1))
            run = 0
        # QOI index hash (r*3 + g*5 + b*7 + a*11) % 64 with a = 255
        k = (r * 3 + g * 5 + b * 7 + 2805) % 64
        if index[k] == px:
            emit(k)
        else:
            index[k] = px
            dr = (r - pr + 128) % 256 - 128
            dg = (g - pg + 128) % 256 - 128
            db = (b - pb + 128) % 256 - 128
            if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                emit(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
            elif (
                -32 <= dg <= 31
                and -8 <= dr - dg <= 7
                and -8 <= db - dg <= 7
            ):
                emit(0x80 | (dg + 32))
                emit(((dr - dg + 8) << 4) | (db - dg + 8))
            else:
                emit(0xFE)
                emit(r)
                emit(g)
                emit(b)
        prev = px
        pr, pg, pb = r, g, b
    if run:
        emit(0xC0 | (run - 1))
    out += _QOI_END
    return bytes(out)


def parse_qoi_meta(data: bytes) -> tuple[int, int, int]:
    """QOI header only → (width, height, channels); no raster decode."""
    import struct

    if len(data) < 14 or data[:4] != QOI_MAGIC:
        raise ValueError("not a QOI")
    w, h, channels, colorspace = struct.unpack_from(">IIBB", data, 4)
    if channels not in (3, 4) or colorspace not in (0, 1) or w == 0 or h == 0:
        raise ValueError("unsupported QOI variant")
    _check_raster_size(w, h, "QOI")
    return w, h, channels


def parse_qoi(data: bytes):
    """QOI bytes → (width, height, HxWxC uint8 array). Full real
    decode: rolling 64-entry index, wrap-around DIFF/LUMA deltas,
    RUN expansion, RGB/RGBA literals, end-marker check."""
    import numpy as np

    w, h, channels = parse_qoi_meta(data)
    n = w * h
    # accumulate into a flat bytearray — per-pixel numpy row assignment
    # dominated the decode profile (~µs per element); one frombuffer at
    # the end is the cheap path
    out = bytearray(n * channels)
    index = [(0, 0, 0, 0)] * 64  # spec zero-init; prev alone is opaque black
    r, g, b, a = 0, 0, 0, 255
    pos, i = 14, 0
    end = len(data) - 8
    while i < n:
        if pos >= end:
            raise ValueError("truncated QOI stream")
        tag = data[pos]
        pos += 1
        # multi-byte ops must bounds-check their OPERANDS too —
        # review-caught: an operand read past `end` silently consumed
        # end-marker bytes as pixel data instead of raising
        if tag == 0xFE:  # RGB literal
            if pos + 3 > end:
                raise ValueError("truncated QOI RGB op")
            r, g, b = data[pos], data[pos + 1], data[pos + 2]
            pos += 3
        elif tag == 0xFF:  # RGBA literal
            if pos + 4 > end:
                raise ValueError("truncated QOI RGBA op")
            r, g, b, a = data[pos], data[pos + 1], data[pos + 2], data[pos + 3]
            pos += 4
        elif tag >> 6 == 0:  # INDEX
            r, g, b, a = index[tag]
        elif tag >> 6 == 1:  # DIFF
            r = (r + ((tag >> 4) & 3) - 2) % 256
            g = (g + ((tag >> 2) & 3) - 2) % 256
            b = (b + (tag & 3) - 2) % 256
        elif tag >> 6 == 2:  # LUMA
            if pos + 1 > end:
                raise ValueError("truncated QOI LUMA op")
            dg = (tag & 0x3F) - 32
            nxt = data[pos]
            pos += 1
            r = (r + dg + ((nxt >> 4) & 0x0F) - 8) % 256
            g = (g + dg) % 256
            b = (b + dg + (nxt & 0x0F) - 8) % 256
        else:  # RUN (1..62; 63/64 are the RGB/RGBA tags above)
            run = (tag & 0x3F) + 1
            if i + run > n:
                raise ValueError("QOI run overflows the raster")
            px = bytes((r, g, b, a)[:channels])
            out[i * channels : (i + run) * channels] = px * run
            i += run
            # qoi.c indexes the current pixel on EVERY chunk read,
            # INCLUDING RUN — review-caught: skipping it diverges on
            # spec-valid foreign streams whose first chunk is a RUN of
            # the initial (0,0,0,255) pixel followed by INDEX 53
            index[(r * 3 + g * 5 + b * 7 + a * 11) % 64] = (r, g, b, a)
            continue
        index[(r * 3 + g * 5 + b * 7 + a * 11) % 64] = (r, g, b, a)
        j = i * channels
        out[j] = r
        out[j + 1] = g
        out[j + 2] = b
        if channels == 4:
            out[j + 3] = a
        i += 1
    if data[end:] != _QOI_END:
        raise ValueError("missing QOI end marker")
    px = np.frombuffer(bytes(out), np.uint8)
    return w, h, px.reshape(h, w, channels).copy()


def plant_qoi_payloads(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, payload): a REAL QOI image with
    closed-form dimensions (w = id%40+4, h = id%28+4) whose pixels tile
    the UTF-8 bytes of `text` — natural text bytes produce runs
    (repeated spaces), index hits (recurring letters), small deltas
    (DIFF/LUMA) and literals, so every QOI op is exercised and the
    oracle's closed-form px_sum pins the whole encode→decode loop."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text_val in zip(pdf["doc_id"], pdf[text_col]):
                d = int(doc_id)
                w, h = d % 40 + 4, d % 28 + 4
                raw = (text_val or "").encode("utf-8") or b"\0"
                px = np.resize(np.frombuffer(raw, np.uint8), (h, w, 3))
                out.append((doc_id, build_qoi(px)))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


# --------------------------------------------------------------------------
# GIF87a (CompuServe spec, later W3C GIF89a) — REAL compressed-format
# decode #3, and the first DICTIONARY coder in the suite: variable-width
# LZW (9→12-bit codes, LSB-first packing, clear/EOI codes, 4096-entry
# table reset) over a 256-entry palette. PNG covers DEFLATE, QOI covers
# byte-oriented delta ops; GIF adds the LZW family, so the "real pixels"
# line now spans all three public lossless compression styles. Built
# from the public spec only; encoder and decoder are independent enough
# that pytest cross-checks catch consistent-but-wrong pairs (the QOI
# lesson), and the width-transition rule is pinned by a dedicated test
# that crosses the 512/1024-entry boundaries and the 4096 reset.
# --------------------------------------------------------------------------

GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-variant LZW: emit clear first, grow code width AFTER the
    decoder's table catches up (encoder is one table entry ahead, so
    its bump condition is next_code > 2^width — bumping at == is the
    classic 'early change' interop bug), reset via clear when the
    table hits 4096. Returns the packed LSB-first code bytes."""
    clear = 1 << min_code_size
    eoi = clear + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = wk[-1:]
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> bytes:
    """GIF-variant LZW decode → palette-index bytes. Handles the
    code==next_code self-reference case, deferred clear (a full table
    simply stops growing until a clear arrives), and raises on codes
    beyond the table, overrun output, or a missing EOI."""
    clear = 1 << min_code_size
    eoi = clear + 1
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]

    out = bytearray()
    table = list(roots)
    width = min_code_size + 1
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                raise ValueError("truncated GIF LZW stream (no EOI)")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(roots)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW: first code after clear not a root")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            raise ValueError("GIF LZW: code beyond table")
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        out += entry
        if len(out) > n_expected:
            raise ValueError("GIF LZW output overflows the raster")
        prev = entry
    if len(out) != n_expected:
        raise ValueError("GIF raster size mismatch")
    return bytes(out)


# GIF interlace row schedule (GIF89a spec Appendix E): four passes over
# ROWS — (start, step) = (0,8), (4,8), (2,4), (1,2). The pixel stream
# carries whole rows in pass order; columns are untouched.
GIF_INTERLACE_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]


def gif_interlace_order(height: int) -> list[int]:
    """Raster row index for each stream position, in pass order."""
    return [
        r
        for start, step in GIF_INTERLACE_PASSES
        for r in range(start, height, step)
    ]


def build_gif(indices, width: int, height: int, *, interlace: bool = False) -> bytes:
    """HxW uint8 palette-index array → GIF87a bytes with the identity
    grayscale palette (entry i = (i,i,i)), one image, no extensions.
    Pixel i maps to RGB (v,v,v), so px_sum = 3 * sum(indices) — the
    closed form the oracle states. `interlace=True` writes the rows in
    the four-pass GIF interlace order (sets descriptor bit 0x40); the
    reorder is lossless, so every closed-form pixel statistic is
    layout-invariant."""
    import struct

    indices = bytes(bytearray(indices))
    if len(indices) != width * height:
        raise ValueError("build_gif: index count != width*height")
    if interlace:
        indices = b"".join(
            indices[r * width : (r + 1) * width]
            for r in gif_interlace_order(height)
        )
    out = bytearray()
    out += b"GIF87a"
    # logical screen: global color table flag set, 8 bits/pixel, 256 entries
    out += struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    for i in range(256):
        out += bytes((i, i, i))
    out += b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, width, height, 0x40 if interlace else 0
    )
    out.append(8)  # LZW minimum code size
    codes = _lzw_encode(indices, 8)
    for off in range(0, len(codes), 255):
        chunk = codes[off : off + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def parse_gif_meta(data: bytes) -> tuple[int, int, int]:
    """GIF header + logical screen descriptor only → (w, h, channels=3)."""
    import struct

    if len(data) < 13 or data[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF")
    w, h, packed, _bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    if w == 0 or h == 0:
        raise ValueError("degenerate GIF dimensions")
    if not packed & 0x80:
        raise ValueError("GIF without a global color table")
    _check_raster_size(w, h, "GIF")
    return w, h, 3


def parse_gif(data: bytes):
    """GIF bytes → (width, height, HxWx3 uint8 RGB array). Real decode:
    screen descriptor, global color table, extension-block skip, image
    descriptor, sub-block reassembly, full LZW decompression, palette
    mapping. Honest-refusal on variants the suite never writes
    (interlace, local color tables, frames smaller than the screen) —
    a wrong-but-plausible raster would defeat the oracle's purpose."""
    import struct

    import numpy as np

    w, h, _ = parse_gif_meta(data)
    packed = data[10]
    gct_n = 2 << (packed & 0x07)
    pos = 13
    if pos + 3 * gct_n > len(data):
        raise ValueError("truncated GIF color table")
    palette = np.frombuffer(data, np.uint8, count=3 * gct_n, offset=pos).reshape(
        gct_n, 3
    )
    pos += 3 * gct_n
    while True:
        if pos >= len(data):
            raise ValueError("GIF ended before an image descriptor")
        block = data[pos]
        pos += 1
        if block == 0x3B:
            raise ValueError("GIF trailer before any image")
        if block == 0x21:  # extension: label byte + data sub-blocks
            if pos >= len(data):
                raise ValueError("truncated GIF extension")
            pos += 1
            while True:
                if pos >= len(data):
                    raise ValueError("truncated GIF extension sub-blocks")
                ln = data[pos]
                pos += 1 + ln
                if ln == 0:
                    break
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        break
    if pos + 9 > len(data):
        raise ValueError("truncated GIF image descriptor")
    left, top, iw, ih, ipacked = struct.unpack_from("<HHHHB", data, pos)
    pos += 9
    if (left, top) != (0, 0) or (iw, ih) != (w, h):
        raise ValueError("GIF sub-frame images unsupported")
    if ipacked & 0x80:
        raise ValueError("GIF local color tables unsupported")
    interlaced = bool(ipacked & 0x40)
    if pos >= len(data):
        raise ValueError("truncated GIF image data")
    min_code_size = data[pos]
    pos += 1
    if not 2 <= min_code_size <= 11:
        raise ValueError("bad GIF LZW minimum code size")
    chunks = []
    while True:
        if pos >= len(data):
            raise ValueError("truncated GIF data sub-blocks")
        ln = data[pos]
        pos += 1
        if ln == 0:
            break
        if pos + ln > len(data):
            raise ValueError("truncated GIF data sub-block")
        chunks.append(data[pos : pos + ln])
        pos += ln
    # after the image: real GIF89a files may carry trailing extension
    # blocks (comments, app extensions) before the trailer — skip them;
    # a SECOND image descriptor is an animation, refused honestly
    while True:
        if pos >= len(data):
            raise ValueError("missing GIF trailer")
        block = data[pos]
        pos += 1
        if block == 0x3B:
            break
        if block == 0x2C:
            raise ValueError("multi-frame (animated) GIF unsupported")
        if block != 0x21:
            raise ValueError(f"unknown GIF block 0x{block:02x} after image")
        if pos >= len(data):
            raise ValueError("truncated GIF extension")
        pos += 1
        while True:
            if pos >= len(data):
                raise ValueError("truncated GIF extension sub-blocks")
            ln = data[pos]
            pos += 1 + ln
            if ln == 0:
                break
    indices = np.frombuffer(
        _lzw_decode(b"".join(chunks), min_code_size, w * h), np.uint8
    )
    if int(indices.max(initial=0)) >= gct_n:
        raise ValueError("GIF index beyond the color table")
    rows = indices.reshape(h, w)
    if interlaced:
        # stream position k carries raster row gif_interlace_order[k]
        deinter = np.empty_like(rows)
        deinter[gif_interlace_order(h)] = rows
        rows = deinter
    return w, h, palette[rows.reshape(-1)].reshape(h, w, 3).copy()


def plant_gif_payloads(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, payload): a REAL GIF87a whose palette
    indices tile the UTF-8 bytes of `text` (w = id%36+4, h = id%24+4).
    Natural text repeats, so the LZW table genuinely grows — larger
    docs cross the 9→10-bit width boundary, pinning the transition
    rule against real data as well as the synthetic boundary pytest.
    Odd doc_ids are written INTERLACED (lossless row reorder — the
    closed-form oracle is layout-invariant), so the same gate row
    certifies both row layouts."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text_val in zip(pdf["doc_id"], pdf[text_col]):
                d = int(doc_id)
                w, h = d % 36 + 4, d % 24 + 4
                raw = (text_val or "").encode("utf-8") or b"\0"
                idx = np.resize(np.frombuffer(raw, np.uint8), h * w)
                out.append((doc_id, build_gif(idx, w, h, interlace=d % 2 == 1)))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


# --------------------------------------------------------------------------
# PCX (ZSoft PC Paintbrush, public spec) — REAL compressed-format decode
# #4 and the RLE family: with BMP/PPM (raw), PNG (DEFLATE), QOI (byte
# delta ops) and GIF (dictionary LZW), byte-run-length PCX completes
# every classic lossless-compression style on real pixels; the md5 FAKE
# branch keeps covering only formats that need a true codec library
# (JPEG/MP4). 24-bit variant: version 5, encoding 1, 8 bits/plane,
# 3 color planes per scanline (all R bytes, all G, all B), runs encoded
# as 0xC0|len (1..63) + value, literal bytes < 0xC0; runs may NOT cross
# scanline-plane boundaries in our encoder (the strict reading of the
# spec; the decoder tolerates in-plane continuation only).
# --------------------------------------------------------------------------


def _pcx_rle_encode_row(row: bytes) -> bytes:
    """RLE one plane row: maximal runs <= 63; single bytes >= 0xC0 must
    still be written as a run of 1 (the spec's escape rule)."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        v = row[i]
        run = 1
        while i + run < n and run < 63 and row[i + run] == v:
            run += 1
        if run > 1 or v >= 0xC0:
            out.append(0xC0 | run)
        out.append(v)
        i += run
    return bytes(out)


def build_pcx(pixels) -> bytes:
    """HxWx3 uint8 RGB array → 24-bit RLE PCX bytes (version 5,
    3 planes, even bytes-per-line padding per the spec)."""
    import struct

    import numpy as np

    h, w, c = pixels.shape
    assert c == 3, "build_pcx writes 24-bit RGB"
    bpl = w + (w & 1)  # bytes per line per plane, forced even
    hdr = struct.pack(
        "<BBBBHHHHHH",
        0x0A,  # magic
        5,  # version: 24-bit capable
        1,  # encoding: RLE
        8,  # bits per pixel per plane
        0,
        0,
        w - 1,
        h - 1,  # window: xmin, ymin, xmax, ymax
        72,
        72,  # dpi
    )
    hdr += bytes(48)  # 16-color EGA palette (unused)
    hdr += struct.pack("<BBHH", 0, 3, bpl, 1)  # reserved, planes, bpl, palette info
    hdr += bytes(128 - len(hdr))
    out = bytearray(hdr)
    arr = np.asarray(pixels, np.uint8)
    pad = bpl - w
    for r in range(h):
        for plane in range(3):
            row = arr[r, :, plane].tobytes() + b"\x00" * pad
            out += _pcx_rle_encode_row(row)
    return bytes(out)


def parse_pcx_meta(data: bytes) -> tuple[int, int, int]:
    """PCX header → (width, height, channels). Accepts only the 24-bit
    RLE layout this suite writes (8 bits × 3 planes, version 5)."""
    import struct

    if len(data) < 128 or data[0] != 0x0A:
        raise ValueError("not a PCX")
    version, encoding, bpp = data[1], data[2], data[3]
    xmin, ymin, xmax, ymax = struct.unpack_from("<HHHH", data, 4)
    planes = data[65]
    if encoding != 1 or bpp != 8 or planes != 3 or version not in (2, 5):
        raise ValueError("unsupported PCX variant")
    w, h = xmax - xmin + 1, ymax - ymin + 1
    if w <= 0 or h <= 0:
        raise ValueError("degenerate PCX dimensions")
    _check_raster_size(w, h, "PCX")
    return w, h, 3


def parse_pcx(data: bytes):
    """PCX bytes → (width, height, HxWx3 uint8 RGB array). Full real
    decode: RLE expansion with run-escape handling, per-scanline plane
    deinterleave, even-padding discard. Truncated streams and runs
    overflowing the raster raise ValueError."""
    import struct

    import numpy as np

    w, h, _ = parse_pcx_meta(data)
    bpl = struct.unpack_from("<H", data, 66)[0]
    if bpl < w:
        raise ValueError("PCX bytes-per-line smaller than width")
    total = bpl * 3 * h
    out = bytearray(total)
    pos, i, n = 128, 0, len(data)
    while i < total:
        if pos >= n:
            raise ValueError("truncated PCX stream")
        v = data[pos]
        pos += 1
        if v >= 0xC0:
            run = v & 0x3F
            if pos >= n:
                raise ValueError("truncated PCX run")
            if i + run > total:
                raise ValueError("PCX run overflows the raster")
            out[i : i + run] = data[pos : pos + 1] * run
            pos += 1
            i += run
        else:
            out[i] = v
            i += 1
    rows = np.frombuffer(bytes(out), np.uint8).reshape(h, 3, bpl)
    return w, h, rows[:, :, :w].transpose(0, 2, 1).copy()


def plant_pcx_payloads(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, payload): a REAL 24-bit RLE PCX with
    closed-form dimensions (w = id%44+4, h = id%20+4) whose pixels
    tile the UTF-8 bytes of `text` — text repeats produce real runs
    (incl. the >=0xC0 byte-escape path for non-ASCII), literals cover
    the rest, so both RLE branches are exercised per payload."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text_val in zip(pdf["doc_id"], pdf[text_col]):
                d = int(doc_id)
                w, h = d % 44 + 4, d % 20 + 4
                raw = (text_val or "").encode("utf-8") or b"\0"
                px = np.resize(np.frombuffer(raw, np.uint8), (h, w, 3))
                out.append((doc_id, build_pcx(px)))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


# --------------------------------------------------------------------------
# DCT/Huffman JPEG (ITU-T T.81, public spec) — REAL compressed-format
# decode #6, and the first LOSSY-family codec decoded for real: complete
# marker walk, DQT/DHT table parsing, canonical Huffman entropy decode
# with 0xFF00 byte unstuffing and RSTn restart handling, DC prediction,
# zigzag→natural reorder, dequantization, separable floating IDCT, level
# shift, chroma upsampling (sampling factors 1-4, integer ratios —
# 4:4:4/4:2:2/4:2:0 and beyond), the JFIF YCbCr→RGB matrix, and (r9)
# PROGRESSIVE SOF2 scans — spectral selection, successive approximation,
# EOB runs — and (r10) the ARITHMETIC family, both SEQUENTIAL SOF9 and
# PROGRESSIVE SOF10, via the T.81 QM coder (operators/jpeg_arith.py,
# bit-exact both ways vs libjpeg), and (r11) LOSSLESS SOF3 (Annex H
# spatial prediction) and the COMPLETE 12-BIT DCT family (SOF1/SOF2/
# SOF9/SOF10), and (r12) HIERARCHICAL (Annex J — DHP pyramid, EXP
# reference expansion, differential SOF5/SOF7 frames; grayscale
# scope). Streams outside that family (color-hierarchical,
# differential progressive SOF6, arithmetic differential SOF13-15,
# arithmetic-lossless SOF11, fractional sampling ratios) raise
# ValueError and fall through to the documented md5 FAKE, which after
# this section covers ONLY video (MP4) and those refused JPEG
# variants.
#
# The encoder exists for fixtures and tests (no codec library in this
# image): standard Annex K Huffman tables, quality expressed directly
# as a quantization table (default all-ones). A planted image whose 8×8
# blocks are CONSTANT is exactly lossless through the full real
# pipeline — a flat block's DCT is DC-only (8·(v−128), an exact integer
# in float64), quant ÷1 keeps it, Huffman is exact, and the IDCT
# returns v on the nose — so the oracle can state px_sum in closed form
# over the tiled text bytes even though the codec family is lossy.
# Reference parity note: the reference pipeline treats its binary
# attachments as opaque blobs (SparkGA1.scala chunk I/O); real decode is
# an engine extension per SURVEY §2.8.
# --------------------------------------------------------------------------

_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)

# Annex K (T.81 Tables K.3-K.6) typical Huffman tables: (BITS, HUFFVAL).
# Completeness (every DC category 0-11, every AC (run,size) incl. EOB
# and ZRL) is pinned by tests/test_multimodal_bytes.py — the encoder
# KeyErrors on any symbol a wrong transcription would lose.
_JPEG_DC_LUM = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_JPEG_DC_CHR = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_JPEG_AC_LUM = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (
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
    ),
)
_JPEG_AC_CHR = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)


def _jpeg_dct_matrix():
    """Orthonormal 8-point DCT-II basis M (M[u,x] = ½·C(u)·cos((2x+1)uπ/16));
    forward 2-D DCT of block B is M·B·Mᵀ, inverse is Mᵀ·C·M."""
    import numpy as np

    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    m[0, :] = 0.5 / np.sqrt(2.0)
    return m


# Progressive AC scans need EOBn symbols (RS = n<<4, runs of 2^n
# blocks) that the baseline Annex K alphabet does not contain, so the
# progressive encoder ships its own table: every symbol it can emit —
# EOB0..EOB14, ZRL, and (run 0..15 x size 1..10) — at a flat 8-bit
# code length (176 codes fit the 8-bit space with room to spare, and
# none is the reserved all-ones pattern). Decoders read it from the
# DHT like any other table.
_JPEG_AC_PROG_SYMS = (
    [0x00]
    + [n << 4 for n in range(1, 15)]
    + [0xF0]
    + [(r << 4) | sz for r in range(16) for sz in range(1, 11)]
)
_JPEG_AC_PROG = (
    (0, 0, 0, 0, 0, 0, 0, len(_JPEG_AC_PROG_SYMS), 0, 0, 0, 0, 0, 0, 0, 0),
    tuple(_JPEG_AC_PROG_SYMS),
)

# 12-bit progressive AC alphabet (r11): EOB0..EOB14, ZRL, and
# (run 0..15 x size 1..14 — T.81 F.1.2 extends AC magnitudes to 14
# bits at 12-bit precision) — 240 codes at a flat 8-bit length
# (all-ones unused).
_JPEG_AC_PROG12_SYMS = (
    [n << 4 for n in range(15)]
    + [0xF0]
    + [(r << 4) | sz for r in range(16) for sz in range(1, 15)]
)
_JPEG_AC_PROG12 = (
    (0, 0, 0, 0, 0, 0, 0, len(_JPEG_AC_PROG12_SYMS), 0, 0, 0, 0, 0, 0, 0, 0),
    tuple(_JPEG_AC_PROG12_SYMS),
)


def _jpeg_encode_table(bits, vals):
    """(BITS, HUFFVAL) → {symbol: (code, length)} by canonical assignment
    (T.81 Annex C: codes of equal length are consecutive, shorter first)."""
    code, k, out = 0, 0, {}
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_decode_table(bits, vals):
    """(BITS, HUFFVAL) → (mincode, maxcode, valptr, vals) per T.81
    F.2.2.3; maxcode[l] = -1 marks lengths with no codes."""
    mincode, maxcode, valptr = [0] * 17, [-1] * 17, [0] * 17
    code, k = 0, 0
    for length in range(1, 17):
        n = bits[length - 1]
        if n:
            valptr[length] = k
            mincode[length] = code
            code += n
            k += n
            maxcode[length] = code - 1
        code <<= 1
    if k != len(vals):
        raise ValueError("DHT BITS/HUFFVAL length mismatch")
    return mincode, maxcode, valptr, tuple(vals)


class _JpegBitWriter:
    """MSB-first bit accumulator with T.81 byte stuffing (0xFF → 0xFF 0x00)
    and 1-padding on flush (F.1.2.3)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _jpeg_category(v: int) -> tuple[int, int]:
    """value → (size category s, s-bit appended-bits encoding) per F.1.2.1."""
    s = abs(v).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _rgb_to_ycbcr(px):
    """HxWx3 uint8 RGB → three float64 planes (JFIF full-range matrix)."""
    import numpy as np

    f = px.astype(np.float64)
    r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return [y, cb, cr]


def _ycbcr_planes_to_u8(planes, prec: int = 8):
    """1 or 3 decoded float planes → HxWxC integer array (gray
    passthrough or the JFIF inverse matrix), the shared tail of both
    JPEG decode paths (baseline and progressive). `prec` centers the
    chroma axis and picks the dtype — uint8 for 8-bit, uint16 for the
    12-bit extended-sequential path (r11)."""
    import numpy as np

    dt = np.uint8 if prec <= 8 else np.uint16
    maxv = (1 << prec) - 1
    if len(planes) == 1:
        return planes[0].astype(dt)[:, :, None]
    half = float(1 << (prec - 1))
    y, cb, cr = planes
    r = y + 1.402 * (cr - half)
    g = y - 0.344136 * (cb - half) - 0.714136 * (cr - half)
    b = y + 1.772 * (cb - half)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, maxv).astype(dt)


def _jpeg_prep_planes(px, sampling):
    """uint8 HxW / HxWx3 (+ optional (hs, vs) luma sampling for color)
    → list of (float64 plane edge-padded to the MCU grid, hs, vs) per
    component, one convention shared by BOTH encoders so a baseline
    and a progressive encode of the same pixels quantize to identical
    coefficients (the cross-layout equality the tests pin). Chroma is
    box-mean downsampled from the edge-padded full-res plane — the
    padded dims are exact multiples of (vs, hs), so the subsampled
    plane lands exactly on its own MCU grid."""
    import numpy as np

    gray = px.ndim == 2
    h, w = int(px.shape[0]), int(px.shape[1])
    hs, vs = (1, 1) if (gray or not sampling) else sampling
    mcux = -(-w // (8 * hs))
    mcuy = -(-h // (8 * vs))
    ph, pw = mcuy * vs * 8, mcux * hs * 8
    if gray:
        padded = np.pad(px, ((0, ph - h), (0, pw - w)), mode="edge")
        return [(padded.astype(np.float64), 1, 1)]
    padded = np.pad(px, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    y, cb, cr = _rgb_to_ycbcr(padded)
    comps = [(y, hs, vs)]
    for c in (cb, cr):
        if (hs, vs) != (1, 1):
            c = c.reshape(mcuy * 8, vs, mcux * 8, hs).mean(axis=(1, 3))
        comps.append((c, 1, 1))
    return comps


def _jpeg_plane_qcoefs(plane, q88, m, center: float = 128.0,
                       ac_clamp: int = 1023):
    """One MCU-aligned float plane → (nby, nbx, 8, 8) int32 quantized
    DCT coefficients (AC clamped to ±ac_clamp — ±1023 is the largest
    magnitude the Annex K AC alphabet can code at 8-bit precision,
    ±16383 the size-14 cap at 12-bit; DC re-derived unclamped — the
    DC alphabets reach further)."""
    import numpy as np

    nby, nbx = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = (plane - center).reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
    coef = np.einsum("ij,abjk,lk->abil", m, blocks, m)
    qc = np.round(coef / q88).astype(np.int32)
    np.clip(qc, -ac_clamp, ac_clamp, out=qc)
    qc[:, :, 0, 0] = np.round(coef[:, :, 0, 0] / q88[0, 0]).astype(np.int32)
    return qc


def build_jpeg_baseline(pixels, *, quant=None, restart_interval: int = 0,
                        sampling=None) -> bytes:
    """HxW grayscale or HxWx3 RGB uint8 → REAL baseline JFIF JPEG
    (SOF0; single-component, 4:4:4, or — r9 — SUBSAMPLED color via
    `sampling=(hs, vs)` luma factors in {1, 2} with box-mean chroma
    downsampling and interleaved hs×vs-blocks-per-MCU emission; Annex
    K Huffman tables; optional DRI/RSTn restarts counting MCUs).
    `quant` is the luminance+chrominance quant table (64 ints 1..255,
    natural order; default all-ones = the exact roundtrip for flat
    blocks). AC coefficients are clamped to ±1023 (the largest
    magnitude the Annex K AC alphabet can code, s=10) — only
    adversarial basis-aligned blocks at quant 1 ever reach it."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("build_jpeg_baseline wants HxW or HxWx3 uint8")
    h, w = int(px.shape[0]), int(px.shape[1])
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if sampling is not None:
        if gray:
            raise ValueError("sampling applies to color images only")
        hs_, vs_ = sampling
        if not (1 <= hs_ <= 4) or not (1 <= vs_ <= 4):
            raise ValueError("sampling factors must be in 1..4")
    q = np.ones(64, dtype=np.int32) if quant is None else np.asarray(quant, np.int32).reshape(64)
    if q.min() < 1 or q.max() > 255:
        raise ValueError("quant entries must be 1..255")
    q88 = q.reshape(8, 8)

    m = _jpeg_dct_matrix()
    comps_meta = [
        (hs, vs, _jpeg_plane_qcoefs(plane, q88, m))
        for plane, hs, vs in _jpeg_prep_planes(px, sampling)
    ]
    hmax = max(c[0] for c in comps_meta)
    vmax = max(c[1] for c in comps_meta)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    ncomp = len(comps_meta)
    enc_dc = [_jpeg_encode_table(*_JPEG_DC_LUM)] + [_jpeg_encode_table(*_JPEG_DC_CHR)] * 2
    enc_ac = [_jpeg_encode_table(*_JPEG_AC_LUM)] + [_jpeg_encode_table(*_JPEG_AC_CHR)] * 2

    bw = _JpegBitWriter()
    chunks = []  # entropy byte chunks, restart markers interleaved
    pred = [0] * ncomp
    rst = 0
    zigarr = np.asarray(list(_JPEG_ZIGZAG))
    # One zigzag gather + AC-presence mask per component (r13 §4.2):
    # the per-block inner loop then touches only the nonzero AC
    # positions instead of scanning all 63 with numpy-scalar reads —
    # flat blocks (the planted population) reduce to DC + EOB.
    comps_enc = []
    for hs, vs, qc in comps_meta:
        nby, nbx = qc.shape[0], qc.shape[1]
        zz_all = qc.reshape(nby * nbx, 64)[:, zigarr]
        comps_enc.append(
            (hs, vs, nbx, zz_all, (zz_all[:, 1:] != 0).any(axis=1),
             zz_all[:, 0].tolist())
        )
    for mi in range(mcuy * mcux):
        if restart_interval and mi and mi % restart_interval == 0:
            bw.flush()
            chunks.append(bytes(bw.out))
            chunks.append(bytes((0xFF, 0xD0 + rst)))
            rst = (rst + 1) % 8
            bw = _JpegBitWriter()
            pred = [0] * ncomp
        my, mx = divmod(mi, mcux)
        for ci, (hs, vs, nbx, zz_all, has_ac, dcs) in enumerate(comps_enc):
            for iby in range(vs):
                for ibx in range(hs):
                    r = (my * vs + iby) * nbx + (mx * hs + ibx)
                    dc = dcs[r]
                    diff = dc - pred[ci]
                    pred[ci] = dc
                    s, bits_val = _jpeg_category(diff)
                    code, ln = enc_dc[ci][s]
                    bw.write(code, ln)
                    if s:
                        bw.write(bits_val, s)
                    if not has_ac[r]:
                        code, ln = enc_ac[ci][0x00]
                        bw.write(code, ln)
                        continue
                    row = zz_all[r].tolist()
                    nzp = (np.nonzero(zz_all[r, 1:])[0] + 1).tolist()
                    prev = 0
                    for k in nzp:
                        run = k - prev - 1
                        while run >= 16:
                            code, ln = enc_ac[ci][0xF0]
                            bw.write(code, ln)
                            run -= 16
                        s, bits_val = _jpeg_category(row[k])
                        code, ln = enc_ac[ci][(run << 4) | s]
                        bw.write(code, ln)
                        bw.write(bits_val, s)
                        prev = k
                    if nzp[-1] < 63:
                        code, ln = enc_ac[ci][0x00]
                        bw.write(code, ln)
    bw.flush()
    chunks.append(bytes(bw.out))
    entropy = b"".join(chunks)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(int(q[i]) for i in _JPEG_ZIGZAG))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci, (hs, vs, _qc) in enumerate(comps_meta):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += seg(0xC0, sof)
    dht = bytearray()
    tables = [(0x00, _JPEG_DC_LUM), (0x10, _JPEG_AC_LUM)]
    if not gray:
        tables += [(0x01, _JPEG_DC_CHR), (0x11, _JPEG_AC_CHR)]
    for tc_th, (bits, vals) in tables:
        dht += bytes([tc_th]) + bytes(bits) + bytes(vals)
    out += seg(0xC4, bytes(dht))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


# Lossless difference categories 0..16 at a flat 5-bit code length
# (17 codes fit; the all-ones pattern stays unused). Category 16 is
# the no-extra-bits 32768 symbol (T.81 H.1.2.2) — the DCT alphabets
# never need it, so lossless ships its own table.
_JPEG_DC_LOSSLESS = (
    (0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(17)),
)


def build_jpeg_lossless(pixels, *, predictor: int = 1,
                        point_transform: int = 0, precision: int = 8,
                        restart_interval: int = 0) -> bytes:
    """HxW or HxWxC integer samples (< 2^precision) → REAL lossless
    JPEG (SOF3, T.81 Annex H): spatial prediction (selector 1-7),
    optional point transform (Al=Pt) and DRI/RSTn restarts (counted
    in MCUs, resetting prediction), Huffman-coded mod-2^16
    differences. All components 1x1-sampled, one interleaved scan.
    Fixture/test encoder (no lossless-capable codec library exists in
    this image — the system libjpeg.so.62 is the 8-bit v6b ABI and
    REFUSES SOF3, see tests); the engine decodes with parse_jpeg.
    decode(encode(x)) == (x >> Pt) << Pt exactly, for ANY content —
    the lossless guarantee, unlike the flat-block-only exactness of
    the DCT fixture convention."""
    import struct

    import numpy as np

    px = np.asarray(pixels)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or not (1 <= px.shape[2] <= 4):
        raise ValueError("build_jpeg_lossless wants HxW or HxWxC")
    if not (2 <= precision <= 16):
        raise ValueError("precision must be 2..16")
    if not (1 <= predictor <= 7):
        raise ValueError("predictor must be 1..7")
    if not (0 <= point_transform < precision):
        raise ValueError("bad point transform")
    h, w, ncomp = int(px.shape[0]), int(px.shape[1]), int(px.shape[2])
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if px.min() < 0 or px.max() >= (1 << precision):
        raise ValueError("samples exceed declared precision")
    # list-of-lists per component: the per-sample loop is pure-Python-
    # hot and plain int rows beat numpy scalar indexing ~4x
    grids = [
        (px[:, :, ci].astype(np.int64) >> point_transform).tolist()
        for ci in range(ncomp)
    ]
    default = 1 << (precision - point_transform - 1)
    enc = _jpeg_encode_table(*_JPEG_DC_LOSSLESS)

    bw = _JpegBitWriter()
    chunks = []  # entropy chunks with restart markers interleaved
    rst = 0
    reset = [None] * ncomp  # mirrors the decoder's H.1.2.2 tracking
    cat = _jpeg_category
    for ui in range(h * w):
        if restart_interval and ui and ui % restart_interval == 0:
            bw.flush()
            chunks.append(bytes(bw.out))
            chunks.append(bytes((0xFF, 0xD0 + rst)))
            rst = (rst + 1) % 8
            bw = _JpegBitWriter()
            reset = [None] * ncomp
        r, c = divmod(ui, w)
        for ci in range(ncomp):
            G = grids[ci]
            rs = reset[ci]
            if rs is None:
                pred = default
                reset[ci] = (r, c)
            elif r == rs[0]:
                pred = G[r][c - 1]
            elif c == 0:
                pred = G[r - 1][c]
            elif predictor == 1:
                pred = G[r][c - 1]
            elif predictor == 2:
                pred = G[r - 1][c]
            elif predictor == 3:
                pred = G[r - 1][c - 1]
            elif predictor == 4:
                pred = G[r][c - 1] + G[r - 1][c] - G[r - 1][c - 1]
            elif predictor == 5:
                pred = G[r][c - 1] + ((G[r - 1][c] - G[r - 1][c - 1]) >> 1)
            elif predictor == 6:
                pred = G[r - 1][c] + ((G[r][c - 1] - G[r - 1][c - 1]) >> 1)
            else:
                pred = (G[r][c - 1] + G[r - 1][c]) >> 1
            diff = (G[r][c] - pred) & 0xFFFF
            if diff == 0x8000:
                code, ln = enc[16]
                bw.write(code, ln)
                continue
            if diff > 0x8000:
                diff -= 0x10000
            s, bits_val = cat(diff)
            code, ln = enc[s]
            bw.write(code, ln)
            if s:
                bw.write(bits_val, s)
    bw.flush()
    chunks.append(bytes(bw.out))
    entropy = b"".join(chunks)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0])
    out += seg(0xC3, sof)
    out += seg(
        0xC4,
        bytes([0x00])
        + bytes(_JPEG_DC_LOSSLESS[0])
        + bytes(_JPEG_DC_LOSSLESS[1]),
    )
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([predictor, 0, point_transform])
    out += seg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


# 12-bit AC alphabet: runs 0..15 × sizes 1..14 (T.81 Table F.2 extends
# AC magnitudes to 14 bits at 12-bit precision) plus EOB and ZRL — 226
# symbols at a flat 8-bit code length (all-ones unused).
_JPEG_AC_EXT12_SYMS = (
    [0x00, 0xF0] + [(r << 4) | sz for r in range(16) for sz in range(1, 15)]
)
_JPEG_AC_EXT12 = (
    (0, 0, 0, 0, 0, 0, 0, len(_JPEG_AC_EXT12_SYMS), 0, 0, 0, 0, 0, 0, 0, 0),
    tuple(_JPEG_AC_EXT12_SYMS),
)


def build_jpeg_ext12(pixels, *, quant=None) -> bytes:
    """HxW 12-bit grayscale samples (0..4095) → REAL extended
    sequential JPEG (SOF1, precision 12): level shift 2048, all-ones
    quant by default, DC differences in categories up to 15 and AC
    magnitudes up to 14 bits (T.81 F.1.2 at 12-bit precision) on
    flat 8-bit-length Huffman tables. Fixture/test encoder (the
    system libjpeg.so.62 is compiled for BITS_IN_JSAMPLE=8 and cannot
    produce or consume 12-bit streams); the engine decodes with
    parse_jpeg. A planted image whose 8×8 blocks are CONSTANT is
    exactly lossless through the real pipeline — the DC coefficient
    8·(v−2048) is an exact integer in float64, quant ÷1 keeps it, and
    the IDCT returns v on the nose — the same closed-form-oracle
    convention as the 8-bit builders."""
    import struct

    import numpy as np

    px = np.asarray(pixels)
    if px.ndim != 2:
        raise ValueError("build_jpeg_ext12 wants HxW grayscale")
    h, w = int(px.shape[0]), int(px.shape[1])
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if px.min() < 0 or px.max() > 4095:
        raise ValueError("samples exceed 12-bit range")
    q = (
        np.ones(64, dtype=np.int32)
        if quant is None
        else np.asarray(quant, np.int32).reshape(64)
    )
    if q.min() < 1 or q.max() > 255:
        raise ValueError("quant entries must be 1..255")
    q88 = q.reshape(8, 8)

    m = _jpeg_dct_matrix()
    nby, nbx = -(-h // 8), -(-w // 8)
    padded = np.pad(
        px.astype(np.float64), ((0, nby * 8 - h), (0, nbx * 8 - w)),
        mode="edge",
    )
    blocks = (padded - 2048.0).reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
    coef = np.einsum("ij,abjk,lk->abil", m, blocks, m)
    qc = np.round(coef / q88).astype(np.int32)
    np.clip(qc, -16383, 16383, out=qc)  # size-14 AC cap; DC re-derived
    qc[:, :, 0, 0] = np.round(coef[:, :, 0, 0] / q88[0, 0]).astype(np.int32)

    enc_dc = _jpeg_encode_table(*_JPEG_DC_LOSSLESS)
    enc_ac = _jpeg_encode_table(*_JPEG_AC_EXT12)
    bw = _JpegBitWriter()
    pred = 0
    zig = list(_JPEG_ZIGZAG)
    for bi in range(nby * nbx):
        by, bx = divmod(bi, nbx)
        zz = qc[by, bx].flatten()[zig]
        diff = int(zz[0]) - pred
        pred = int(zz[0])
        s, bits_val = _jpeg_category(diff)
        code, ln = enc_dc[s]
        bw.write(code, ln)
        if s:
            bw.write(bits_val, s)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run >= 16:
                code, ln = enc_ac[0xF0]
                bw.write(code, ln)
                run -= 16
            s, bits_val = _jpeg_category(v)
            code, ln = enc_ac[(run << 4) | s]
            bw.write(code, ln)
            bw.write(bits_val, s)
            run = 0
        if run:
            code, ln = enc_ac[0x00]
            bw.write(code, ln)
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes(int(q[i]) for i in _JPEG_ZIGZAG))
    out += seg(0xC1, struct.pack(">BHHB", 12, h, w, 1) + bytes([1, 0x11, 0]))
    dht = (
        bytes([0x00])
        + bytes(_JPEG_DC_LOSSLESS[0])
        + bytes(_JPEG_DC_LOSSLESS[1])
        + bytes([0x10])
        + bytes(_JPEG_AC_EXT12[0])
        + bytes(_JPEG_AC_EXT12[1])
    )
    out += seg(0xC4, dht)
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += bytes(bw.out)
    out += b"\xff\xd9"
    return bytes(out)


def build_jpeg_hierarchical(pixels, *, mode: str = "lossless",
                            levels: int | None = None, precision: int = 8,
                            restart_interval: int = 0,
                            split_bits: int = 3) -> bytes:
    """HxW integer samples → REAL hierarchical JPEG (T.81 Annex J,
    r12), grayscale. Two layouts:

    mode="lossless": a resolution PYRAMID — the base level (decimated
    ``levels-1`` times by 2) is a plain SOF3 lossless frame, then each
    finer level is an EXP expansion (J.1.1.2 interpolation) followed
    by a DIFFERENTIAL LOSSLESS frame (SOF7) coding the exact mod-2^16
    corrections. decode == input EXACTLY for ANY content at any
    precision 2..16 (the downsampling filter is the encoder's free
    choice — the differences repair whatever it loses).

    mode="dct": DCT refinement. With ``levels=1`` (default) it is a
    same-resolution QUALITY ladder — the base frame (SOF0 at 8-bit /
    SOF1 at 12-bit) codes the input with its low ``split_bits`` bits
    zeroed (flat 8x8 tiles stay flat, so the base decodes them
    exactly), then ONE differential sequential frame (SOF5) codes
    input minus the DECODED base at quant 1. Flat-tile content
    roundtrips exactly (the closed-form-oracle convention); arbitrary
    content is within 1 LSB of IDCT rounding per frame. With
    ``levels>1`` it is a RESOLUTION pyramid like the lossless mode —
    each finer level is an EXP expansion followed by a SOF5 frame
    coding target minus the upsampled DECODED reference (each DCT
    layer contributes at most 1 LSB of rounding, so the result is
    within ``levels`` LSBs; exact for globally-constant content).

    Fixture/test encoder (the system libjpeg's v6b ABI predates any
    hierarchical support); the engine decodes with parse_jpeg →
    _parse_jpeg_hier. Restart intervals, counted in MCUs (samples for
    lossless scans, blocks for the DCT frame), apply to every frame."""
    import struct

    import numpy as np

    px = np.asarray(pixels)
    if px.ndim != 2:
        raise ValueError("build_jpeg_hierarchical wants HxW grayscale")
    h, w = int(px.shape[0]), int(px.shape[1])
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if levels is None:
        levels = 2 if mode == "lossless" else 1
    if levels < 1:
        raise ValueError("levels must be >= 1")

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    def frame_body(fh: int, fw: int) -> bytes:
        return struct.pack(">BHHB", precision, fh, fw, 1) + bytes([1, 0x11, 0])

    enc_ll = _jpeg_encode_table(*_JPEG_DC_LOSSLESS)

    def lossless_diff_entropy(diff16) -> bytes:
        """Category-code a mod-2^16 difference grid (predictor zero,
        the build_jpeg_lossless conventions incl. the 32768 symbol and
        RSTn byte-aligned restarts)."""
        bw = _JpegBitWriter()
        chunks = []
        rst = 0
        flat = diff16.reshape(-1)
        for ui in range(flat.shape[0]):
            if restart_interval and ui and ui % restart_interval == 0:
                bw.flush()
                chunks.append(bytes(bw.out))
                chunks.append(bytes((0xFF, 0xD0 + rst)))
                rst = (rst + 1) % 8
                bw = _JpegBitWriter()
            d = int(flat[ui])
            if d == 0x8000:
                code, ln = enc_ll[16]
                bw.write(code, ln)
                continue
            if d > 0x8000:
                d -= 0x10000
            s, bits_val = _jpeg_category(d)
            code, ln = enc_ll[s]
            bw.write(code, ln)
            if s:
                bw.write(bits_val, s)
        bw.flush()
        chunks.append(bytes(bw.out))
        return b"".join(chunks)

    out = bytearray(b"\xff\xd8")
    out += seg(0xDE, frame_body(h, w))

    if mode == "lossless":
        if not (2 <= precision <= 16):
            raise ValueError("precision must be 2..16")
        if px.min() < 0 or px.max() >= (1 << precision):
            raise ValueError("samples exceed declared precision")
        planes = [px.astype(np.int64)]
        for _ in range(levels - 1):
            planes.append(planes[-1][::2, ::2])
        base = build_jpeg_lossless(
            planes[-1], predictor=1, precision=precision,
            restart_interval=restart_interval,
        )
        out += base[2:-2]  # DHT + SOF3 [+ DRI] + SOS + entropy
        ref = planes[-1]
        for k in range(levels - 2, -1, -1):
            tgt = planes[k]
            th, tw = tgt.shape
            out += seg(0xDF, bytes([0x11]))
            up = _jpeg_exp_expand(ref, 1, 1)[:th, :tw]
            diff16 = (tgt - up) & 0xFFFF
            out += seg(0xC7, frame_body(th, tw))
            out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0]))
            out += lossless_diff_entropy(diff16)
            ref = tgt
    elif mode == "dct":
        if precision not in (8, 12):
            raise ValueError("dct mode supports precision 8 or 12")
        if not (1 <= split_bits < precision):
            raise ValueError("bad split_bits")
        if px.min() < 0 or px.max() >= (1 << precision):
            raise ValueError("samples exceed declared precision")
        planes = [px.astype(np.int64)]
        for _ in range(levels - 1):
            planes.append(planes[-1][::2, ::2])
        bh, bw_ = planes[-1].shape
        vq = (planes[-1] >> split_bits) << split_bits
        if precision == 8:
            base = build_jpeg_baseline(
                vq.astype(np.uint8), restart_interval=restart_interval
            )
            enc_dc = _jpeg_encode_table(*_JPEG_DC_LUM)
            enc_ac = _jpeg_encode_table(*_JPEG_AC_LUM)
        else:
            base = build_jpeg_ext12(vq)
            if restart_interval:
                raise ValueError("12-bit dct base has no restart support")
            enc_dc = _jpeg_encode_table(*_JPEG_DC_LOSSLESS)
            enc_ac = _jpeg_encode_table(*_JPEG_AC_EXT12)
        out += base[2:-2]
        ref = parse_jpeg(base)[2][:, :, 0].astype(np.int64)
        m = _jpeg_dct_matrix()
        zig = list(_JPEG_ZIGZAG)
        maxv = (1 << precision) - 1

        def sof5_frame(diff, fh, fw):
            """One differential sequential frame of `diff` (quant 1,
            PRED=0): returns (SOF5+SOS+entropy bytes, the decoder's
            reconstruction of the correction) — the encoder tracks the
            decoded reference exactly so later layers repair this
            layer's IDCT rounding."""
            nby, nbx = -(-fh // 8), -(-fw // 8)
            padded = np.pad(
                diff.astype(np.float64),
                ((0, nby * 8 - fh), (0, nbx * 8 - fw)), mode="edge",
            )
            blocks = padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
            qc = np.round(
                np.einsum("ij,abjk,lk->abil", m, blocks, m)
            ).astype(np.int64)
            ac_cap = 1023 if precision == 8 else 16383
            dc = qc[:, :, 0, 0].copy()
            qc[:, :, 0, 0] = 0
            if np.abs(qc).max() > ac_cap:
                # clipping here would silently break the documented
                # reconstruction bound on the LAST layer (earlier
                # layers' clips are repaired by later corrections, the
                # final one is not) — refuse instead; high-contrast
                # content should use mode="lossless"
                raise ValueError(
                    "differential AC coefficient exceeds the table's "
                    f"±{ac_cap} range — use mode='lossless'"
                )
            if np.abs(dc).max() > 8 * ((1 << precision) - 1):
                raise ValueError("differential DC out of range")
            qc[:, :, 0, 0] = dc  # DC categories reach 15 at 12-bit
            bw = _JpegBitWriter()
            chunks = []
            rst = 0
            for bi in range(nby * nbx):
                if restart_interval and bi and bi % restart_interval == 0:
                    bw.flush()
                    chunks.append(bytes(bw.out))
                    chunks.append(bytes((0xFF, 0xD0 + rst)))
                    rst = (rst + 1) % 8
                    bw = _JpegBitWriter()
                by, bx = divmod(bi, nbx)
                zz = qc[by, bx].flatten()[zig]
                s, bits_val = _jpeg_category(int(zz[0]))  # PRED = 0
                code, ln = enc_dc[s]
                bw.write(code, ln)
                if s:
                    bw.write(bits_val, s)
                run = 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run >= 16:
                        code, ln = enc_ac[0xF0]
                        bw.write(code, ln)
                        run -= 16
                    s, bits_val = _jpeg_category(v)
                    code, ln = enc_ac[(run << 4) | s]
                    bw.write(code, ln)
                    bw.write(bits_val, s)
                    run = 0
                if run:
                    code, ln = enc_ac[0x00]
                    bw.write(code, ln)
            bw.flush()
            chunks.append(bytes(bw.out))
            body = (
                seg(0xC5, frame_body(fh, fw))
                + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
                + b"".join(chunks)
            )
            spatial = np.einsum("ji,abjk,kl->abil", m, qc.astype(np.float64), m)
            rec = np.round(spatial).astype(np.int64)
            rec = rec.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
            return body, rec[:fh, :fw]

        # refine the base level to its true values (same resolution)
        body, rec = sof5_frame(planes[-1] - ref, bh, bw_)
        out += body
        ref = np.clip(ref + rec, 0, maxv)
        # then climb the pyramid: EXP + one SOF5 correction per level
        for k in range(levels - 2, -1, -1):
            tgt = planes[k]
            th, tw = tgt.shape
            out += seg(0xDF, bytes([0x11]))
            up = _jpeg_exp_expand(ref, 1, 1)[:th, :tw]
            body, rec = sof5_frame(tgt - up, th, tw)
            out += body
            ref = np.clip(up + rec, 0, maxv)
    else:
        raise ValueError("mode must be 'lossless' or 'dct'")

    out += b"\xff\xd9"
    return bytes(out)


def build_jpeg_arith(pixels, *, quant=None, restart_interval: int = 0,
                     sampling=None, precision: int = 8) -> bytes:
    """HxW grayscale or HxWx3 RGB uint8 → REAL arithmetic-coded
    sequential JPEG (SOF9 + DAC, T.81 Annex D/F QM coder — see
    operators/jpeg_arith.py; the entropy bytes are byte-identical to
    libjpeg's for the same coefficients, pinned by
    tests/test_jpeg_arith.py). Same coefficient pipeline as
    build_jpeg_baseline (_jpeg_prep_planes + _jpeg_plane_qcoefs), so a
    flat-block image at all-ones quant roundtrips EXACTLY and the
    three entropy layers (baseline Huffman / progressive / arithmetic)
    of the same pixels decode identically. Restart intervals count
    MCUs; each restart flushes the QM coder and resets statistics,
    conditioning contexts, and DC predictions (F.2.4). `precision=12`
    (r11) emits a 12-BIT arithmetic frame — grayscale, level shift
    2048; the QM magnitude chains are unbounded below their corrupt-
    stream guards, so only the coefficient prep and headers change."""
    import struct

    import numpy as np

    from sparkga1_spark.operators import jpeg_arith as _JA

    if precision == 12:
        px = np.asarray(pixels)
        if px.ndim != 2:
            raise ValueError("12-bit arithmetic fixtures are grayscale")
        if px.size and (px.min() < 0 or px.max() > 4095):
            raise ValueError("samples exceed 12-bit range")
    elif precision == 8:
        px = np.asarray(pixels, dtype=np.uint8)
    else:
        raise ValueError("precision must be 8 or 12")
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("build_jpeg_arith wants HxW or HxWx3 uint8")
    h, w = int(px.shape[0]), int(px.shape[1])
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if sampling is not None:
        if gray:
            raise ValueError("sampling applies to color images only")
        hs_, vs_ = sampling
        if not (1 <= hs_ <= 4) or not (1 <= vs_ <= 4):
            raise ValueError("sampling factors must be in 1..4")
    q = (
        np.ones(64, dtype=np.int32)
        if quant is None
        else np.asarray(quant, np.int32).reshape(64)
    )
    if q.min() < 1 or q.max() > 255:
        raise ValueError("quant entries must be 1..255")
    q88 = q.reshape(8, 8)

    m = _jpeg_dct_matrix()
    center = float(1 << (precision - 1))
    ac_clamp = 1023 if precision == 8 else 16383
    comps_meta = [
        (hs, vs, _jpeg_plane_qcoefs(plane, q88, m, center, ac_clamp))
        for plane, hs, vs in _jpeg_prep_planes(px, sampling)
    ]
    hmax = max(c[0] for c in comps_meta)
    vmax = max(c[1] for c in comps_meta)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    ncomp = len(comps_meta)
    # table ids per component (luma 0, chroma 1) + default conditioning
    tids = [0] + [1] * (ncomp - 1)
    L, U, Kx = 0, 1, 5

    def fresh():
        ids = sorted(set(tids))
        return (
            {t: bytearray(_JA.DC_STAT_BINS) for t in ids},
            {t: bytearray(_JA.AC_STAT_BINS) for t in ids},
            _JA.new_fixed_bin(),
            [_JA.DCState() for _ in range(ncomp)],
        )

    zig = list(_JPEG_ZIGZAG)
    enc = _JA.QMEncoder()
    dcs, acs, fixed, dstates = fresh()
    chunks = []
    rst = 0
    for mi in range(mcuy * mcux):
        if restart_interval and mi and mi % restart_interval == 0:
            chunks.append(enc.flush())
            chunks.append(bytes((0xFF, 0xD0 + rst)))
            rst = (rst + 1) % 8
            enc = _JA.QMEncoder()
            dcs, acs, fixed, dstates = fresh()
        my, mx = divmod(mi, mcux)
        for ci, (hs, vs, qc) in enumerate(comps_meta):
            t = tids[ci]
            for iby in range(vs):
                for ibx in range(hs):
                    blk = qc[my * vs + iby, mx * hs + ibx]
                    zz = blk.flatten()[zig]
                    _JA.dc_encode(enc, dcs[t], dstates[ci], L, U, int(zz[0]))
                    _JA.ac_encode(enc, acs[t], fixed, Kx, zz)
    chunks.append(enc.flush())
    entropy = b"".join(chunks)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    if precision == 8:  # JFIF declares 8-bit samples; omit at 12
        out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(int(q[i]) for i in _JPEG_ZIGZAG))
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for ci, (hs, vs, _qc) in enumerate(comps_meta):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += seg(0xC9, sof)
    # DAC: explicit default conditioning for every table in use
    dac = bytearray()
    for t in sorted(set(tids)):
        dac += bytes([0x00 | t, (U << 4) | L])
        dac += bytes([0x10 | t, Kx])
    out += seg(0xCC, bytes(dac))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, (tids[ci] << 4) | tids[ci]])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def build_jpeg_arith_progressive(pixels, *, quant=None, successive=False,
                                 sampling=None, restart_interval: int = 0,
                                 precision: int = 8) -> bytes:
    """HxW grayscale or HxWx3 RGB uint8 → REAL progressive
    ARITHMETIC-coded JPEG (SOF10 + DAC): the build_jpeg_progressive
    scan script (spectral selection; `successive=True` adds the full
    successive-approximation chain) with the T.81 G.2 arithmetic
    models over the QM coder instead of Huffman tables — DC first =
    the sequential F.1.4.4.1 model on point-transformed values, DC
    refinement = one fixed-probability decision per block, AC first =
    the F.1.4.4.2 band walk, AC refinement = kex-gated EOB /
    newly-significant / correction-bit decisions (no Huffman EOB-run
    machinery: the per-position EOB decision replaces it). Shares
    _jpeg_prep_planes/_jpeg_plane_qcoefs, so all four entropy layers
    of the same pixels decode identically; validated against libjpeg
    SOF10 output in tests/test_jpeg_arith.py. `precision=12` (r11)
    emits a 12-BIT progressive arithmetic frame (grayscale, level
    shift 2048 — see build_jpeg_arith)."""
    import struct

    import numpy as np

    from sparkga1_spark.operators import jpeg_arith as _JA

    if precision == 12:
        px = np.asarray(pixels)
        if px.ndim != 2:
            raise ValueError("12-bit arithmetic fixtures are grayscale")
        if px.size and (px.min() < 0 or px.max() > 4095):
            raise ValueError("samples exceed 12-bit range")
    elif precision == 8:
        px = np.asarray(pixels, dtype=np.uint8)
    else:
        raise ValueError("precision must be 8 or 12")
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("build_jpeg_arith_progressive wants HxW or HxWx3")
    h, w = int(px.shape[0]), int(px.shape[1])
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if sampling is not None:
        if gray:
            raise ValueError("sampling applies to color images only")
        hs_, vs_ = sampling
        if not (1 <= hs_ <= 4) or not (1 <= vs_ <= 4):
            raise ValueError("sampling factors must be in 1..4")
    q = np.ones(64, dtype=np.int32) if quant is None else np.asarray(
        quant, np.int32
    ).reshape(64)
    if q.min() < 1 or q.max() > 255:
        raise ValueError("quant entries must be 1..255")
    q88 = q.reshape(8, 8)

    m = _jpeg_dct_matrix()
    zig = list(_JPEG_ZIGZAG)
    comps_meta = []
    prepped = _jpeg_prep_planes(px, sampling)
    hmax = max(hs for _p, hs, _v in prepped)
    vmax = max(vs for _p, _h, vs in prepped)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    center = float(1 << (precision - 1))
    ac_clamp = 1023 if precision == 8 else 16383
    for plane, hs, vs in prepped:
        qc = _jpeg_plane_qcoefs(plane, q88, m, center, ac_clamp)
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        comps_meta.append((hs, vs, qc, -(-ch // 8), -(-cw // 8)))
    ncomp = len(comps_meta)
    L, U, Kx = 0, 1, 5  # default conditioning, written in the DAC

    def comp_zz_blocks(ci):
        hs, vs, qc, nbh, nbw = comps_meta[ci]
        for bi in range(nbh * nbw):
            by, bx = divmod(bi, nbw)
            yield qc[by, bx].flatten()[zig]

    class _RestartingQM:
        """QM encoder that splits into RSTn-separated segments at the
        caller's unit boundaries; stats/conditioning reset per segment
        via the caller-provided fresh() hook."""

        def __init__(self, fresh):
            self.fresh = fresh
            self.enc = _JA.QMEncoder()
            self.state = fresh()
            self.chunks = []
            self.rst = 0

        def boundary(self):
            self.chunks.append(self.enc.flush())
            self.chunks.append(bytes((0xFF, 0xD0 + self.rst)))
            self.rst = (self.rst + 1) % 8
            self.enc = _JA.QMEncoder()
            self.state = self.fresh()

        def done(self) -> bytes:
            self.chunks.append(self.enc.flush())
            return b"".join(self.chunks)

    def dc_first(al: int) -> bytes:
        rw = _RestartingQM(
            lambda: (bytearray(_JA.DC_STAT_BINS),
                     [_JA.DCState() for _ in range(ncomp)])
        )
        for mi in range(mcuy * mcux):
            if restart_interval and mi and mi % restart_interval == 0:
                rw.boundary()
            st, states = rw.state
            my, mx = divmod(mi, mcux)
            for ci, (hs, vs, qc, _nbh, _nbw) in enumerate(comps_meta):
                for iby in range(vs):
                    for ibx in range(hs):
                        dc = int(qc[my * vs + iby, mx * hs + ibx, 0, 0]) >> al
                        _JA.dc_encode(rw.enc, st, states[ci], L, U, dc)
        return rw.done()

    def dc_refine(al: int) -> bytes:
        rw = _RestartingQM(_JA.new_fixed_bin)
        for mi in range(mcuy * mcux):
            if restart_interval and mi and mi % restart_interval == 0:
                rw.boundary()
            my, mx = divmod(mi, mcux)
            for _ci, (hs, vs, qc, _nbh, _nbw) in enumerate(comps_meta):
                for iby in range(vs):
                    for ibx in range(hs):
                        bit = (
                            int(qc[my * vs + iby, mx * hs + ibx, 0, 0]) >> al
                        ) & 1
                        rw.enc.encode(rw.state, 0, bit)
        return rw.done()

    def ac_first(ci: int, al: int) -> bytes:
        rw = _RestartingQM(
            lambda: (bytearray(_JA.AC_STAT_BINS), _JA.new_fixed_bin())
        )
        for bi, zz in enumerate(comp_zz_blocks(ci)):
            if restart_interval and bi and bi % restart_interval == 0:
                rw.boundary()
            st, fixed = rw.state
            tv = [
                (1 if int(zz[k]) > 0 else -1) * (abs(int(zz[k])) >> al)
                for k in range(64)
            ]
            _JA.ac_encode(rw.enc, st, fixed, Kx, tv)
        return rw.done()

    def ac_refine(ci: int, al: int) -> bytes:
        # G.2 AC refinement: per-position decisions, kex-gated EOB —
        # written as the exact mirror of the decoder walk
        rw = _RestartingQM(
            lambda: (bytearray(_JA.AC_STAT_BINS), _JA.new_fixed_bin())
        )
        for bi, zz in enumerate(comp_zz_blocks(ci)):
            if restart_interval and bi and bi % restart_interval == 0:
                rw.boundary()
            st, fixed = rw.state
            enc = rw.enc
            ke = 63
            while ke > 0 and (abs(int(zz[ke])) >> al) == 0:
                ke -= 1
            kex = ke
            while kex > 0 and (abs(int(zz[kex])) >> (al + 1)) == 0:
                kex -= 1
            k = 1
            while k <= ke:
                o = 3 * (k - 1)
                if k > kex:
                    enc.encode(st, o, 0)  # not EOB yet
                while True:
                    v = int(zz[k])
                    if abs(v) >> (al + 1):  # previously significant
                        enc.encode(st, o + 2, (abs(v) >> al) & 1)
                        break
                    if (abs(v) >> al) == 1:  # newly significant
                        enc.encode(st, o + 1, 1)
                        enc.encode(fixed, 0, 1 if v < 0 else 0)
                        break
                    enc.encode(st, o + 1, 0)
                    o += 3
                    k += 1
                k += 1
            if k <= 63:
                enc.encode(st, 3 * (k - 1), 1)  # EOB
        return rw.done()

    dc_hdr = bytes(
        [ncomp] + [b for ci in range(ncomp) for b in (ci + 1, 0x00)]
    )
    if successive:
        scans = (
            [(dc_first(1), dc_hdr + bytes([0, 0, 0x01]))]
            + [
                (ac_first(ci, 1), bytes([1, ci + 1, 0x00, 1, 63, 0x01]))
                for ci in range(ncomp)
            ]
            + [(dc_refine(0), dc_hdr + bytes([0, 0, 0x10]))]
            + [
                (ac_refine(ci, 0), bytes([1, ci + 1, 0x00, 1, 63, 0x10]))
                for ci in range(ncomp)
            ]
        )
    else:
        scans = [(dc_first(0), dc_hdr + bytes([0, 0, 0x00]))] + [
            (ac_first(ci, 0), bytes([1, ci + 1, 0x00, 1, 63, 0x00]))
            for ci in range(ncomp)
        ]

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    if precision == 8:  # JFIF declares 8-bit samples; omit at 12
        out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(int(q[i]) for i in _JPEG_ZIGZAG))
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for ci, (hs, vs, _qc, _nbh, _nbw) in enumerate(comps_meta):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += seg(0xCA, sof)
    out += seg(0xCC, bytes([0x00, (U << 4) | L, 0x10, Kx]))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    for entropy, sos_body in scans:
        out += seg(0xDA, sos_body)
        out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def build_jpeg_progressive(pixels, *, quant=None, successive=False,
                           sampling=None, restart_interval: int = 0,
                           precision: int = 8) -> bytes:
    """HxW grayscale or HxWx3 RGB uint8 → REAL progressive JFIF JPEG
    (SOF2; color as YCbCr with an interleaved DC scan and
    per-component AC scans, the T.81 progressive scan structure —
    4:4:4 or, r9, SUBSAMPLED via `sampling=(hs, vs)` luma factors in
    {1, 2}: the DC scan interleaves hs×vs luma blocks per MCU and the
    AC scans cover each component's OWN block raster). Default
    script: spectral selection only (DC scan, then AC 1..63 per
    component with EOB-run coding). `successive=True` adds SUCCESSIVE
    APPROXIMATION — DC/AC first passes at Al=1 (point-transformed
    magnitudes), then DC refinement (one raw bit per block) and AC
    refinement (G.1.2.3: ±1<<Al newly-significant symbols with
    correction bits woven through ZRL spans and EOB runs).
    `restart_interval` (r9) emits DRI + RSTn restarts — counting MCUs
    in the DC scans and blocks in the AC scans (T.81 F.2.1.3.1), each
    byte-aligned with DC predictions reset and EOB runs terminated at
    the boundary. The quantized coefficients are computed exactly as
    in build_jpeg_baseline (shared helpers), so a progressive and a
    baseline encode of the same pixels decode to IDENTICAL rasters —
    the cross-layout equality the pytest pins. The AC scans use a
    custom Huffman table (_JPEG_AC_PROG): Annex K has no EOBn
    symbols. `precision=12` (r11) emits a 12-BIT progressive frame —
    grayscale only, level shift 2048, DC categories to 15 and AC
    sizes to 14 on flat tables (the scan scripts, EOB runs, restarts,
    and successive approximation are precision-independent)."""
    import struct

    import numpy as np

    if precision == 12:
        px = np.asarray(pixels)
        if px.ndim != 2:
            raise ValueError("12-bit progressive fixtures are grayscale")
        if px.size and (px.min() < 0 or px.max() > 4095):
            raise ValueError("samples exceed 12-bit range")
    elif precision == 8:
        px = np.asarray(pixels, dtype=np.uint8)
    else:
        raise ValueError("precision must be 8 or 12")
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("build_jpeg_progressive wants HxW or HxWx3 uint8")
    h, w = int(px.shape[0]), int(px.shape[1])
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if sampling is not None:
        if gray:
            raise ValueError("sampling applies to color images only")
        hs_, vs_ = sampling
        if not (1 <= hs_ <= 4) or not (1 <= vs_ <= 4):
            raise ValueError("sampling factors must be in 1..4")
    q = np.ones(64, dtype=np.int32) if quant is None else np.asarray(
        quant, np.int32
    ).reshape(64)
    if q.min() < 1 or q.max() > 255:
        raise ValueError("quant entries must be 1..255")
    q88 = q.reshape(8, 8)

    m = _jpeg_dct_matrix()
    zig = list(_JPEG_ZIGZAG)
    comps_meta = []  # (hs, vs, qc array, comp-grid nbh, comp-grid nbw)
    prepped = _jpeg_prep_planes(px, sampling)
    hmax = max(hs for _p, hs, _v in prepped)
    vmax = max(vs for _p, _h, vs in prepped)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    center = float(1 << (precision - 1))
    ac_clamp = 1023 if precision == 8 else 16383
    for plane, hs, vs in prepped:
        qc = _jpeg_plane_qcoefs(plane, q88, m, center, ac_clamp)
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        comps_meta.append((hs, vs, qc, -(-ch // 8), -(-cw // 8)))
    ncomp = len(comps_meta)

    dc_tbl = _JPEG_DC_LUM if precision == 8 else _JPEG_DC_LOSSLESS
    ac_tbl = _JPEG_AC_PROG if precision == 8 else _JPEG_AC_PROG12
    enc_dc = _jpeg_encode_table(*dc_tbl)
    enc_ac = _jpeg_encode_table(*ac_tbl)

    zigarr = np.asarray(zig)

    def comp_zz_matrix(ci):
        # AC scans cover the component's OWN block raster (T.81
        # A.2.2) — MCU-padding blocks appear only in the DC scans.
        # One (nblocks, 64) zigzag gather per component: the AC scans
        # below classify blocks with matrix-wide numpy masks instead
        # of three 64-iteration Python list comprehensions per block
        # (r13 §4.2 — the planted flat-block population makes almost
        # every block a pure EOB-run member).
        hs, vs, qc, nbh, nbw = comps_meta[ci]
        # qc covers the MCU-padded grid; the scan rasters only nbh×nbw
        return qc[:nbh, :nbw].reshape(nbh * nbw, 64)[:, zigarr]

    class _RestartingWriter:
        """Bit writer that splits into RSTn-separated segments at the
        caller's unit boundaries (shared by all four scan kinds)."""

        def __init__(self):
            self.bw = _JpegBitWriter()
            self.chunks = []
            self.rst = 0

        def boundary(self):
            self.bw.flush()
            self.chunks.append(bytes(self.bw.out))
            self.chunks.append(bytes((0xFF, 0xD0 + self.rst)))
            self.rst = (self.rst + 1) % 8
            self.bw = _JpegBitWriter()

        def done(self) -> bytes:
            self.bw.flush()
            self.chunks.append(bytes(self.bw.out))
            return b"".join(self.chunks)

    def dc_first(al: int) -> bytes:
        # interleaved over all components (hs×vs blocks per MCU),
        # diff coding over point-transformed (>> Al) DCs
        rw = _RestartingWriter()
        pred = [0] * ncomp
        for mi in range(mcuy * mcux):
            if restart_interval and mi and mi % restart_interval == 0:
                rw.boundary()
                pred = [0] * ncomp
            my, mx = divmod(mi, mcux)
            for ci, (hs, vs, qc, _nbh, _nbw) in enumerate(comps_meta):
                for iby in range(vs):
                    for ibx in range(hs):
                        dc = int(qc[my * vs + iby, mx * hs + ibx, 0, 0]) >> al
                        s, bits_val = _jpeg_category(dc - pred[ci])
                        pred[ci] = dc
                        code, ln = enc_dc[s]
                        rw.bw.write(code, ln)
                        if s:
                            rw.bw.write(bits_val, s)
        return rw.done()

    def dc_refine(al: int) -> bytes:
        rw = _RestartingWriter()
        for mi in range(mcuy * mcux):
            if restart_interval and mi and mi % restart_interval == 0:
                rw.boundary()
            my, mx = divmod(mi, mcux)
            for _ci, (hs, vs, qc, _nbh, _nbw) in enumerate(comps_meta):
                for iby in range(vs):
                    for ibx in range(hs):
                        rw.bw.write(
                            (int(qc[my * vs + iby, mx * hs + ibx, 0, 0]) >> al)
                            & 1,
                            1,
                        )
        return rw.done()

    def ac_first(ci: int, al: int) -> bytes:
        rw = _RestartingWriter()
        bw = rw.bw
        eobrun = 0

        def flush_eobrun():
            nonlocal eobrun
            while eobrun:
                chunk = min(eobrun, 32767)
                n = chunk.bit_length() - 1
                code, ln = enc_ac[n << 4]
                bw.write(code, ln)
                if n:
                    bw.write(chunk - (1 << n), n)
                eobrun -= chunk

        zz_all = comp_zz_matrix(ci)
        tv_all = zz_all if al == 0 else np.sign(zz_all) * (
            np.abs(zz_all) >> al
        )
        has_ac = (tv_all[:, 1:] != 0).any(axis=1)
        for bi in range(tv_all.shape[0]):
            if restart_interval and bi and bi % restart_interval == 0:
                flush_eobrun()
                rw.boundary()
                bw = rw.bw
            if not has_ac[bi]:
                eobrun += 1
                continue
            flush_eobrun()
            row = tv_all[bi].tolist()
            nzp = (np.nonzero(tv_all[bi, 1:])[0] + 1).tolist()
            prev = 0
            for k in nzp:
                run = k - prev - 1
                while run >= 16:
                    code, ln = enc_ac[0xF0]
                    bw.write(code, ln)
                    run -= 16
                s, bits_val = _jpeg_category(row[k])
                code, ln = enc_ac[(run << 4) | s]
                bw.write(code, ln)
                bw.write(bits_val, s)
                prev = k
            if nzp[-1] < 63:
                eobrun += 1  # this block's EOB joins the running run
        flush_eobrun()
        return rw.done()

    def ac_refine(ci: int, al: int) -> bytes:
        # G.1.2.3 encoder, written as an exact simulation of the
        # decoder's reads: a positional queue of zero-history slots and
        # correction bits splits ZRL spans at the right coefficients,
        # and EOB-run correction bits accumulate in block order
        rw = _RestartingWriter()
        bw = rw.bw
        eobrun = 0
        eob_bits: list[int] = []

        def flush_eobrun():
            nonlocal eobrun, eob_bits
            while eobrun:
                chunk = min(eobrun, 32767)
                n = chunk.bit_length() - 1
                code, ln = enc_ac[n << 4]
                bw.write(code, ln)
                if n:
                    bw.write(chunk - (1 << n), n)
                eobrun -= chunk
                if eobrun == 0:
                    for b in eob_bits:
                        bw.write(b, 1)
                    eob_bits = []

        zz_all = comp_zz_matrix(ci)
        t_all = np.abs(zz_all) >> al
        newly_any = (t_all[:, 1:] == 1).any(axis=1)
        corr_any = (t_all[:, 1:] >= 2).any(axis=1)
        for bi in range(t_all.shape[0]):
            if restart_interval and bi and bi % restart_interval == 0:
                flush_eobrun()
                rw.boundary()
                bw = rw.bw
            if not newly_any[bi]:
                # kend = 0 path of the generic loop: the whole block
                # joins the EOB run; already-significant slots queue
                # their correction bits in block order
                eobrun += 1
                if corr_any[bi]:
                    trow = t_all[bi].tolist()
                    eob_bits.extend(
                        trow[k] & 1 for k in range(1, 64) if trow[k] >= 2
                    )
                if eobrun == 32767:
                    flush_eobrun()
                continue
            trow = t_all[bi].tolist()
            vrow = zz_all[bi].tolist()
            kend = int(np.nonzero(t_all[bi, 1:] == 1)[0][-1]) + 1
            items: list[tuple[str, int]] = []
            for k in range(1, kend + 1):
                t = trow[k]
                if t == 0:
                    items.append(("z", 0))
                elif t == 1:
                    flush_eobrun()
                    nz_run = sum(1 for it in items if it[0] == "z")
                    while nz_run > 15:
                        code, ln = enc_ac[0xF0]
                        bw.write(code, ln)
                        seen = 0
                        while seen < 16:
                            it = items.pop(0)
                            if it[0] == "z":
                                seen += 1
                            else:
                                bw.write(it[1], 1)
                        nz_run -= 16
                    code, ln = enc_ac[(nz_run << 4) | 1]
                    bw.write(code, ln)
                    bw.write(1 if vrow[k] > 0 else 0, 1)
                    for it in items:
                        if it[0] == "c":
                            bw.write(it[1], 1)
                    items = []
                else:  # already significant: correction bit
                    items.append(("c", t & 1))
            if kend < 63:
                eobrun += 1
                eob_bits.extend(
                    trow[k] & 1
                    for k in range(kend + 1, 64)
                    if trow[k] >= 2
                )
                if eobrun == 32767:
                    flush_eobrun()
        flush_eobrun()
        return rw.done()

    dc_hdr = bytes(
        [ncomp] + [b for ci in range(ncomp) for b in (ci + 1, 0x00)]
    )
    if successive:
        scans = (
            [(dc_first(1), dc_hdr + bytes([0, 0, 0x01]))]
            + [
                (ac_first(ci, 1), bytes([1, ci + 1, 0x00, 1, 63, 0x01]))
                for ci in range(ncomp)
            ]
            + [(dc_refine(0), dc_hdr + bytes([0, 0, 0x10]))]
            + [
                (ac_refine(ci, 0), bytes([1, ci + 1, 0x00, 1, 63, 0x10]))
                for ci in range(ncomp)
            ]
        )
    else:
        scans = [(dc_first(0), dc_hdr + bytes([0, 0, 0x00]))] + [
            (ac_first(ci, 0), bytes([1, ci + 1, 0x00, 1, 63, 0x00]))
            for ci in range(ncomp)
        ]

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    if precision == 8:  # JFIF declares 8-bit samples; omit at 12
        out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(int(q[i]) for i in _JPEG_ZIGZAG))
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for ci, (hs, vs, _qc, _nbh, _nbw) in enumerate(comps_meta):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += seg(0xC2, sof)
    dht = bytearray()
    for tc_th, (bits, vals) in ((0x00, dc_tbl), (0x10, ac_tbl)):
        dht += bytes([tc_th]) + bytes(bits) + bytes(vals)
    out += seg(0xC4, bytes(dht))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    for entropy, sos_body in scans:
        out += seg(0xDA, sos_body)
        out += entropy
    out += b"\xff\xd9"
    return bytes(out)


class _JpegBitReader:
    """MSB-first reader over one de-stuffed entropy segment; underrun
    raises (a conformant stream never reads past its segment)."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if not self.nbits:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy underrun")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _jpeg_huff_decode(br: _JpegBitReader, table) -> int:
    mincode, maxcode, valptr, vals = table
    code = br.read_bit()
    length = 1
    while code > maxcode[length]:
        if length >= 16:
            raise ValueError("invalid JPEG Huffman code")
        code = (code << 1) | br.read_bit()
        length += 1
    return vals[valptr[length] + code - mincode[length]]


def _jpeg_extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _jpeg_split_entropy(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Entropy region → de-stuffed segments split at RSTn markers;
    returns (segments, position of the terminating marker)."""
    segs, cur, pos, n = [], bytearray(), start, len(data)
    while pos < n:
        b = data[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        if pos + 1 >= n:
            raise ValueError("truncated JPEG entropy stream")
        m = data[pos + 1]
        if m == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:
            segs.append(bytes(cur))
            return segs, pos
    raise ValueError("JPEG entropy stream missing terminating marker")


def _jpeg_exp_expand(plane, eh: int, ev: int):
    """T.81 J.1.1.2 reference-component expansion: doubling along each
    requested axis — even outputs copy the input, odd outputs are the
    rounded mean of the two neighbours, the last output replicates the
    final input sample. int64 in/out (used at precisions up to 16)."""
    import numpy as np

    if eh:
        h_, w_ = plane.shape
        out = np.empty((h_, 2 * w_), np.int64)
        out[:, 0::2] = plane
        if w_ > 1:
            out[:, 1 : 2 * w_ - 1 : 2] = (plane[:, :-1] + plane[:, 1:] + 1) >> 1
        out[:, -1] = plane[:, -1]
        plane = out
    if ev:
        h_, w_ = plane.shape
        out = np.empty((2 * h_, w_), np.int64)
        out[0::2, :] = plane
        if h_ > 1:
            out[1 : 2 * h_ - 1 : 2, :] = (plane[:-1, :] + plane[1:, :] + 1) >> 1
        out[-1, :] = plane[-1, :]
        plane = out
    return plane


def _parse_jpeg_hier(data: bytes):
    """Hierarchical JPEG (T.81 Annex J, r12) → (w, h, HxWx1 pixels),
    GRAYSCALE scope (the wild hierarchical population is DICOM-style
    single-component; color pyramids would need per-component reference
    planes threaded through the one-frame decoder and stay refused with
    a precise message). The stream is a DHP header followed by a
    pyramid of frames: the FIRST frame is any supported non-differential
    process — it is carved out byte-exactly, wrapped as a standalone
    one-frame JPEG, and decoded by parse_jpeg itself (so sequential,
    progressive, lossless, arithmetic and 12/16-bit first frames all
    work for free) — and each LATER frame is differential: EXP doubles
    the reference along the flagged axes (J.1.1.2 interpolation), then
    SOF5 (differential sequential DCT: PRED=0 DC coding, dequant+IDCT
    WITHOUT level shift, added to the reference and clamped) or SOF7
    (differential lossless: category-coded differences, no spatial
    predictor, added mod 2^16) refines it. Differential progressive
    (SOF6) and the arithmetic differential family (SOF13-15) remain
    refused, as does arithmetic lossless (SOF11)."""
    import struct

    import numpy as np

    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos, n = 2, len(data)
    dhp = None  # (prec, fh, fw)
    ref = None  # reference plane, int64 HxW
    exp_pending = None  # (Eh, Ev) awaiting the next differential frame
    acc: list[bytes] = []  # table/misc segments for first-frame carving
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], tuple] = {}
    dri = 0

    def _read_seg():
        if pos + 4 > n:
            raise ValueError("truncated JPEG segment")
        length = struct.unpack_from(">H", data, pos + 2)[0]
        if length < 2 or pos + 2 + length > n:
            raise ValueError("bad JPEG segment length")
        return data[pos + 4 : pos + 2 + length], data[pos : pos + 2 + length]

    # NOTE: _parse_dqt/_parse_dht mirror parse_jpeg's inline DQT/DHT
    # blocks (and the carve path re-parses what the recursion will
    # parse again) — keep the validation rules IN SYNC with the plain
    # decoder's when either changes; a deliberate duplication, because
    # extracting the plain path's inline blocks would churn the most
    # heavily verified loop in the module for a cosmetic win.
    def _parse_dqt(body):
        i = 0
        while i < len(body):
            pq, tq = body[i] >> 4, body[i] & 15
            if pq not in (0, 1) or tq > 3:
                raise ValueError("bad DQT")
            step = 1 + (64 << pq)
            if i + step > len(body):
                raise ValueError("truncated DQT")
            vals = (
                struct.unpack_from(">64H", body, i + 1)
                if pq
                else body[i + 1 : i + 65]
            )
            tbl = np.zeros(64, np.int32)
            for k, z in enumerate(_JPEG_ZIGZAG):
                tbl[z] = vals[k]
            if tbl.min() < 1:
                raise ValueError("zero DQT entry")
            qt[tq] = tbl.reshape(8, 8)
            i += step

    def _parse_dht(body):
        i = 0
        while i + 17 <= len(body):
            tc, th = body[i] >> 4, body[i] & 15
            if tc not in (0, 1) or th > 3:
                raise ValueError("bad DHT")
            bits = tuple(body[i + 1 : i + 17])
            cnt = sum(bits)
            if i + 17 + cnt > len(body):
                raise ValueError("truncated DHT")
            huff[(tc, th)] = _jpeg_decode_table(
                bits, tuple(body[i + 17 : i + 17 + cnt])
            )
            i += 17 + cnt
        if i != len(body):
            raise ValueError("trailing DHT bytes")

    def _diff_frame_header(body):
        if len(body) < 6:
            raise ValueError("truncated differential frame header")
        prec, fh, fw, ncomp = struct.unpack_from(">BHHB", body, 0)
        if dhp is None:
            raise ValueError("differential frame before DHP")
        if prec != dhp[0]:
            raise ValueError("differential frame precision mismatch")
        if ncomp != 1 or len(body) != 9:
            raise ValueError(
                "hierarchical decode is grayscale-scoped "
                "(multi-component pyramid unsupported)"
            )
        _check_raster_size(fw, fh, "JPEG")  # bomb guard BEFORE the
        # frame's coefficient/sample allocations (the plain path's
        # reconstruction-time check never sees these)
        _cid, _hv, tq = body[6], body[7], body[8]
        return fh, fw, tq

    def _apply_exp_and_crop(fh, fw):
        nonlocal ref, exp_pending
        if ref is None:
            raise ValueError("differential frame before a reference frame")
        if exp_pending is not None:
            eh_, ev_ = exp_pending
            rh0, rw0 = ref.shape
            if (rh0 << ev_) * (rw0 << eh_) > 2 * _MAX_DECODE_PIXELS:
                # a conformant pyramid's expanded reference is at most
                # one capped frame's size; anything larger is a crafted
                # allocation-amplification chain — refuse pre-alloc
                raise ValueError("JPEG expansion beyond the decoder cap")
            ref = _jpeg_exp_expand(ref, eh_, ev_)
            exp_pending = None
        rh, rw = ref.shape
        if not (0 <= rh - fh <= 1 and 0 <= rw - fw <= 1):
            raise ValueError("differential frame dims mismatch reference")
        ref = ref[:fh, :fw]

    def _diff_sos(body):
        if not body or body[0] != 1 or len(body) != 6:
            raise ValueError("differential scan must be single-component")
        return body[1], body[2] >> 4, body[2] & 15, body[3], body[4], body[5]

    while True:
        if pos + 2 > n:
            raise ValueError("truncated JPEG (no EOI)")
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0x01, *range(0xD0, 0xD8)):
            pos += 2
            continue
        if marker == 0xD9:
            break
        body, raw = _read_seg()
        seg_end = pos + 2 + len(raw) - 2  # == pos + 2 + length
        if marker == 0xDE:
            if dhp is not None:
                raise ValueError("duplicate DHP")
            if len(body) < 6:
                raise ValueError("truncated DHP")
            prec, fh, fw, ncomp = struct.unpack_from(">BHHB", body, 0)
            if ncomp != 1 or len(body) != 9:
                raise ValueError(
                    "hierarchical decode is grayscale-scoped "
                    "(multi-component pyramid unsupported)"
                )
            if fw <= 0 or fh <= 0:
                raise ValueError("bad DHP dims")
            _check_raster_size(fw, fh, "JPEG")  # bomb guard on the
            # declared full-image dims before any frame decodes
            dhp = (prec, fh, fw)
            pos = seg_end
            continue
        if marker == 0xDF:
            if len(body) != 1:
                raise ValueError("bad EXP")
            eh, ev = body[0] >> 4, body[0] & 15
            if eh not in (0, 1) or ev not in (0, 1) or not (eh or ev):
                raise ValueError("bad EXP expansion flags")
            if ref is None:
                raise ValueError("EXP before a reference frame")
            if exp_pending is not None:
                raise ValueError("consecutive EXP markers")
            exp_pending = (eh, ev)
            pos = seg_end
            continue
        if marker == 0xDB:
            _parse_dqt(body)
            acc.append(raw)
            pos = seg_end
            continue
        if marker == 0xC4:
            _parse_dht(body)
            acc.append(raw)
            pos = seg_end
            continue
        if marker == 0xDD:
            if len(body) != 2:
                raise ValueError("bad DRI")
            dri = struct.unpack(">H", body)[0]
            acc.append(raw)
            pos = seg_end
            continue
        if marker in (0xC6, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported differential frame (progressive SOF6 / "
                "arithmetic SOF13-15)"
            )
        if marker == 0xCB:
            raise ValueError("unsupported JPEG frame (hierarchical/arith-lossless)")
        if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA):
            # non-differential frame: only valid as the pyramid base
            if ref is not None:
                raise ValueError(
                    "non-differential frame after the hierarchical base"
                )
            if exp_pending is not None:
                raise ValueError("EXP before a non-differential frame")
            if dhp is None:
                raise ValueError("hierarchical frame before DHP")
            if len(body) < 6:
                raise ValueError("truncated hierarchical frame header")
            prec, fh, fw, ncomp = struct.unpack_from(">BHHB", body, 0)
            if ncomp != 1:
                raise ValueError(
                    "hierarchical decode is grayscale-scoped "
                    "(multi-component pyramid unsupported)"
                )
            if prec != dhp[0]:
                raise ValueError("hierarchical frame precision mismatch")
            # carve the frame (SOF .. end of its scans) byte-exactly and
            # decode it as a standalone one-frame JPEG — all supported
            # non-differential processes work unchanged
            fstart = pos
            pos = seg_end
            while True:
                if pos + 2 > n:
                    raise ValueError("truncated hierarchical frame")
                if data[pos] != 0xFF:
                    raise ValueError("JPEG marker desync")
                m2 = data[pos + 1]
                if m2 == 0xFF:
                    pos += 1
                    continue
                if m2 in (0x01, *range(0xD0, 0xD8)):
                    pos += 2
                    continue
                if m2 in (0xD9, 0xDF, 0xDE) or m2 in (
                    0xC5, 0xC6, 0xC7, 0xCB, 0xCD, 0xCE, 0xCF,
                ) or m2 in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA):
                    break  # frame complete
                if pos + 4 > n:
                    raise ValueError("truncated JPEG segment")
                ln2 = struct.unpack_from(">H", data, pos + 2)[0]
                if ln2 < 2 or pos + 2 + ln2 > n:
                    raise ValueError("bad JPEG segment length")
                if m2 == 0xDA:
                    _segs, pos = _jpeg_split_entropy(data, pos + 2 + ln2)
                else:
                    if m2 == 0xDD:  # DRI persists into later diff frames
                        dri = struct.unpack_from(">H", data, pos + 4)[0]
                    if m2 == 0xDB:
                        _parse_dqt(data[pos + 4 : pos + 2 + ln2])
                    if m2 == 0xC4:
                        _parse_dht(data[pos + 4 : pos + 2 + ln2])
                    pos = pos + 2 + ln2
            sub = b"\xff\xd8" + b"".join(acc) + data[fstart:pos] + b"\xff\xd9"
            _w0, _h0, px0 = parse_jpeg(sub)
            ref = px0[:, :, 0].astype(np.int64)
            if ref.shape != (fh, fw):
                raise ValueError("hierarchical base frame dims mismatch")
            continue
        if marker == 0xC5:
            # --- differential sequential DCT (Annex J + F.2.1.3.1:
            # DC prediction is ZERO in differential frames; the IDCT
            # output is a signed correction added to the reference,
            # no level shift, clamped to [0, 2^P-1]) ---
            fh, fw, tq = _diff_frame_header(body)
            _apply_exp_and_crop(fh, fw)
            pos = seg_end
            # frame-local segments up to its single SOS
            while (
                pos + 2 <= n
                and data[pos] == 0xFF
                and data[pos + 1] in (0xDB, 0xC4, 0xDD)
            ):
                b2, r2 = _read_seg()
                if data[pos + 1] == 0xDB:
                    _parse_dqt(b2)
                elif data[pos + 1] == 0xC4:
                    _parse_dht(b2)
                else:
                    dri = struct.unpack(">H", b2)[0]
                pos = pos + 2 + len(r2) - 2
            if pos + 2 > n or data[pos] != 0xFF or data[pos + 1] != 0xDA:
                raise ValueError("differential frame missing SOS")
            sbody, sraw = _read_seg()
            _cs, td, ta, ss, se, ahal = _diff_sos(sbody)
            if ss != 0 or se != 63 or ahal != 0:
                raise ValueError("bad differential sequential scan header")
            if tq not in qt:
                raise ValueError(f"missing quant table {tq}")
            dc_tbl = huff.get((0, td))
            ac_tbl = huff.get((1, ta))
            if dc_tbl is None or ac_tbl is None:
                raise ValueError("missing Huffman table")
            segs, pos = _jpeg_split_entropy(data, pos + 2 + len(sraw) - 2)
            nbh, nbw = -(-fh // 8), -(-fw // 8)
            if dri:
                if len(segs) < -(-(nbh * nbw) // dri):
                    raise ValueError("missing restart segment")
            elif len(segs) != 1:
                raise ValueError("restart markers without DRI")
            coefs = np.zeros((nbh, nbw, 8, 8), np.int32)
            br = _JpegBitReader(segs[0])
            seg_idx = 0
            for bi in range(nbh * nbw):
                if dri and bi and bi % dri == 0:
                    seg_idx += 1
                    br = _JpegBitReader(segs[seg_idx])
                by, bx = divmod(bi, nbw)
                t = _jpeg_huff_decode(br, dc_tbl)
                if t > 16:
                    raise ValueError("bad differential DC category")
                if t == 16:
                    # T.81 permits SSSS=16 (a 32768 correction, no
                    # appended bits) in differential DCT frames —
                    # mirror of the SOF7 handling (r12 ADVICE)
                    coefs[by, bx, 0, 0] = 32768
                else:
                    coefs[by, bx, 0, 0] = (
                        _jpeg_extend(br.read_bits(t), t) if t else 0
                    )
                k = 1
                while k < 64:
                    rs = _jpeg_huff_decode(br, ac_tbl)
                    r, s_ = rs >> 4, rs & 15
                    if s_ == 0:
                        if r == 15:
                            k += 16
                            continue
                        break  # EOB
                    k += r
                    if k > 63:
                        raise ValueError("AC index overflow")
                    if s_ > 14:
                        raise ValueError("bad AC size")
                    z = _JPEG_ZIGZAG[k]
                    coefs[by, bx, z >> 3, z & 7] = _jpeg_extend(
                        br.read_bits(s_), s_
                    )
                    k += 1
            if seg_idx != len(segs) - 1 or br.pos < len(segs[seg_idx]) - 1:
                raise ValueError("unconsumed bytes in differential scan")
            m = _jpeg_dct_matrix()
            deq = coefs.astype(np.float64) * qt[tq]
            spatial = np.einsum("ji,abjk,kl->abil", m, deq, m)
            diffp = np.round(spatial).astype(np.int64)
            diffp = diffp.transpose(0, 2, 1, 3).reshape(nbh * 8, nbw * 8)
            maxv = (1 << dhp[0]) - 1
            ref = np.clip(ref + diffp[:fh, :fw], 0, maxv)
            continue
        if marker == 0xC7:
            # --- differential lossless (Annex J + H: the category-coded
            # values ARE the corrections — no spatial predictor — added
            # to the reference mod 2^16) ---
            fh, fw, _tq = _diff_frame_header(body)
            _apply_exp_and_crop(fh, fw)
            pos = seg_end
            while (
                pos + 2 <= n
                and data[pos] == 0xFF
                and data[pos + 1] in (0xC4, 0xDD)
            ):
                b2, r2 = _read_seg()
                if data[pos + 1] == 0xC4:
                    _parse_dht(b2)
                else:
                    dri = struct.unpack(">H", b2)[0]
                pos = pos + 2 + len(r2) - 2
            if pos + 2 > n or data[pos] != 0xFF or data[pos + 1] != 0xDA:
                raise ValueError("differential frame missing SOS")
            sbody, sraw = _read_seg()
            _cs, td, _ta, ss, se, ahal = _diff_sos(sbody)
            if ss != 0 or se != 0:
                raise ValueError(
                    "differential lossless scan must have Ss=0, Se=0"
                )
            if ahal & 15:
                raise ValueError(
                    "point transform in differential lossless unsupported"
                )
            tbl = huff.get((0, td))
            if tbl is None:
                raise ValueError("missing Huffman table")
            segs, pos = _jpeg_split_entropy(data, pos + 2 + len(sraw) - 2)
            if dri:
                if len(segs) < -(-(fh * fw) // dri):
                    raise ValueError("missing restart segment")
            elif len(segs) != 1:
                raise ValueError("restart markers without DRI")
            out = np.empty((fh, fw), np.int64)
            br = _JpegBitReader(segs[0])
            seg_idx = 0
            flat_ref = ref.reshape(-1)
            flat_out = out.reshape(-1)
            for ui in range(fh * fw):
                if dri and ui and ui % dri == 0:
                    seg_idx += 1
                    br = _JpegBitReader(segs[seg_idx])
                t = _jpeg_huff_decode(br, tbl)
                if t > 16:
                    raise ValueError("bad lossless difference category")
                if t == 16:
                    diff = 32768
                elif t:
                    diff = _jpeg_extend(br.read_bits(t), t)
                else:
                    diff = 0
                flat_out[ui] = (int(flat_ref[ui]) + diff) & 0xFFFF
            if seg_idx != len(segs) - 1 or br.pos < len(segs[seg_idx]) - 1:
                raise ValueError("unconsumed bytes in differential scan")
            ref = out
            continue
        # other segments (APPn, COM, DAC, ...) accumulate for carving
        acc.append(raw)
        pos = seg_end

    if dhp is None or ref is None:
        raise ValueError("hierarchical stream without DHP + frames")
    if exp_pending is not None:
        raise ValueError("EXP without a following frame")
    prec, fh, fw = dhp
    if ref.shape != (fh, fw):
        raise ValueError("hierarchical progression incomplete at EOI")
    maxv = (1 << prec) - 1
    ref = np.clip(ref, 0, maxv)
    dt = np.uint8 if prec <= 8 else np.uint16
    return fw, fh, ref[:, :, None].astype(dt)


def parse_jpeg(data: bytes):
    """JPEG bytes → (width, height, HxWxC uint8 pixels) via a COMPLETE
    real decode: marker walk, DQT/DHT parsing, canonical Huffman
    entropy decode (byte unstuffing, RSTn restarts, DC prediction,
    EOB/ZRL), dequant, separable float IDCT, level shift, chroma
    upsample (sampling factors 1-4, integer ratios — 4:2:0/4:2:2/
    4:4:0/4:1:1), JFIF YCbCr→RGB. PROGRESSIVE
    (SOF2) frames decode for real too — grayscale, 4:4:4 AND (r9)
    SUBSAMPLED color (interleaved multi-component DC scans carrying
    hs×vs blocks per MCU, single-component AC scans over each
    component's OWN block raster per T.81 G.1/A.2.2): multi-scan
    spectral-selection accumulation into per-component persistent
    coefficient buffers with EOB-run decoding (G.1.2.2), full
    SUCCESSIVE APPROXIMATION (DC/AC first passes at any Al, DC
    refinement bits, AC refinement per G.1.2.3 — newly-significant
    ±1<<Al symbols with correction bits woven through ZRL spans and
    EOB runs), and (r9) DRI/RSTn restart intervals — counted in MCUs
    for interleaved scans and blocks for single-component ones, each
    restart byte-aligning, resetting DC predictions, and refusing a
    pending EOB run at the boundary. The ARITHMETIC family decodes
    for real as of r10 — SEQUENTIAL (SOF9 + DAC) and PROGRESSIVE
    (SOF10, full successive approximation) — via the T.81 Annex D/F
    QM coder (operators/jpeg_arith.py — per-table statistics bins,
    F.1.4.4 DC/AC and G.2 progressive models, restart resets;
    validated bit-exact both ways against libjpeg). LOSSLESS SOF3
    decodes for real as of r11 (Annex H: spatial predictors 1-7,
    point transform, mod-2^16 differences with the category-16
    symbol, restarts, multi-scan non-interleaved layouts, precision
    2-16 — raw component planes out, no color transform), as does
    the COMPLETE 12-BIT DCT family — SOF1/SOF2 Huffman and
    SOF9/SOF10 arithmetic (level shift 2048, DC categories to 15, AC
    sizes to 14, uint16 output; the QM magnitude chains reach 12-bit
    ranges below their guards). HIERARCHICAL streams (r12, Annex J)
    decode for real in grayscale scope — a DHP marker delegates to
    _parse_jpeg_hier (pyramid base by recursion, EXP expansion,
    differential SOF5/SOF7 frames). Raises ValueError for the rest
    (color-hierarchical, differential progressive SOF6, arithmetic
    differential SOF13-15, arithmetic-lossless SOF11, fractional
    sampling ratios) — callers fall through to the documented fake,
    keeping legacy header-only fixtures byte-stable."""
    import struct

    import numpy as np

    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], tuple] = {}
    frame = None
    scan = None
    dri = 0
    progressive = False
    arith = False  # SOF9: sequential DCT, arithmetic entropy coding
    arith_dc: dict[int, tuple[int, int]] = {}  # table id -> (L, U)
    arith_ac: dict[int, int] = {}  # table id -> Kx
    pcoefs = None  # progressive: per-component (nby, nbx, 8, 8) buffers
    dc_seen = None  # progressive: per-component DC-scan-seen flags
    lossless = False  # SOF3: spatial-predictor lossless (T.81 Annex H)
    prec_bits = 8
    lsamples = None  # lossless: per-component sample grids
    ls_done = None  # lossless: per-component scan-decoded flags
    ls_pt = None  # lossless: per-component point transform (Al)
    pos = 2
    n = len(data)
    while True:
        if pos + 2 > n:
            raise ValueError("truncated JPEG (no SOS)")
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0x01, *range(0xD0, 0xD8)):
            pos += 2
            continue
        if marker == 0xD9:
            if progressive and dc_seen is not None and all(dc_seen):
                break  # progression complete — reconstruct below
            if lossless and ls_done is not None and all(ls_done):
                break  # every component's scan decoded — reconstruct
            raise ValueError("EOI before scan data")
        if pos + 4 > n:
            raise ValueError("truncated JPEG segment")
        length = struct.unpack_from(">H", data, pos + 2)[0]
        if length < 2 or pos + 2 + length > n:
            raise ValueError("bad JPEG segment length")
        body = data[pos + 4 : pos + 2 + length]
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq not in (0, 1) or tq > 3:
                    raise ValueError("bad DQT")
                step = 1 + (64 << pq)
                if i + step > len(body):
                    raise ValueError("truncated DQT")
                if pq:
                    vals = struct.unpack_from(">64H", body, i + 1)
                else:
                    vals = body[i + 1 : i + 65]
                tbl = np.zeros(64, np.int32)
                for k, z in enumerate(_JPEG_ZIGZAG):
                    tbl[z] = vals[k]
                if tbl.min() < 1:
                    raise ValueError("zero DQT entry")
                qt[tq] = tbl.reshape(8, 8)
                i += step
        elif marker == 0xC4:
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 15
                if tc not in (0, 1) or th > 3:
                    raise ValueError("bad DHT")
                bits = tuple(body[i + 1 : i + 17])
                cnt = sum(bits)
                if i + 17 + cnt > len(body):
                    raise ValueError("truncated DHT")
                huff[(tc, th)] = _jpeg_decode_table(
                    bits, tuple(body[i + 17 : i + 17 + cnt])
                )
                i += 17 + cnt
            if i != len(body):
                raise ValueError("trailing DHT bytes")
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA):
            progressive = marker in (0xC2, 0xCA)
            arith = marker in (0xC9, 0xCA)
            lossless = marker == 0xC3
            prec, fh, fw, ncomp = struct.unpack_from(">BHHB", body, 0)
            if lossless:
                # T.81 Annex H frames carry any precision 2..16 —
                # predictive coding, no DCT/quantization to generalize
                if not (2 <= prec <= 16):
                    raise ValueError("bad lossless precision")
            elif prec == 12:
                # r11: 12-bit DCT precision for every non-baseline
                # DCT frame — extended sequential SOF1, progressive
                # SOF2, and the arithmetic twins SOF9/SOF10:
                # dequant/IDCT/level-shift generalize, the DC Huffman
                # alphabet widens to category 15 (T.81 Table F.1),
                # and the QM magnitude chains already reach 12-bit
                # ranges below their corrupt-stream guards. Baseline
                # SOF0 is 8-bit by definition (B.2.2).
                if marker == 0xC0:
                    raise ValueError("baseline frames are 8-bit only")
            elif prec != 8:
                raise ValueError("only 8-bit precision supported")
            prec_bits = prec
            if ncomp not in (1, 3) and not (lossless and 1 <= ncomp <= 4):
                raise ValueError(f"unsupported component count {ncomp}")
            if fw <= 0 or fh <= 0 or len(body) != 6 + 3 * ncomp:
                raise ValueError("bad SOF")
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                hs, vs = hv >> 4, hv & 15
                if not (1 <= hs <= 4) or not (1 <= vs <= 4):
                    raise ValueError("unsupported sampling factor")
                comps.append((cid, hs, vs, tq))
            if ncomp > 1:
                # integer-ratio upsampling only (covers every layout
                # real encoders emit — 4:4:4/4:2:2/4:4:0/4:2:0/4:1:1;
                # fractional ratios like 3-vs-2 stay an honest refusal)
                hm = max(c[1] for c in comps)
                vm = max(c[2] for c in comps)
                if any(hm % c[1] or vm % c[2] for c in comps):
                    raise ValueError("non-integer sampling ratio unsupported")
            frame = (fw, fh, comps)
        elif marker == 0xDE:
            # DHP: hierarchical progression (T.81 Annex J) — delegate
            # the whole stream to the multi-frame pyramid decoder
            # (r12; grayscale scope, SOF5/SOF7 differential frames).
            # struct.error from a truncated fixed-width field is a
            # malformed stream, not a crash: keep the ValueError
            # contract the fake-path fallback depends on
            try:
                return _parse_jpeg_hier(data)
            except struct.error as e:
                raise ValueError(
                    f"truncated hierarchical segment: {e}"
                ) from None
        elif marker in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
            # differential frames are only meaningful inside a
            # hierarchical stream (after DHP, handled above); one in a
            # plain stream is malformed
            raise ValueError("differential JPEG frame outside DHP stream")
        elif marker == 0xCB:
            # arithmetic-coded lossless (SOF11) stays an honest refusal
            raise ValueError(
                "unsupported JPEG frame (hierarchical/arith-lossless)"
            )
        elif marker == 0xCC:
            # DAC: arithmetic conditioning (T.81 B.2.4.3)
            i = 0
            while i + 2 <= len(body):
                tc, tb = body[i] >> 4, body[i] & 15
                cs = body[i + 1]
                if tb > 3:
                    raise ValueError("bad DAC table id")
                if tc == 0:
                    L, U = cs & 15, cs >> 4
                    if L > U:
                        raise ValueError("bad DAC DC conditioning")
                    arith_dc[tb] = (L, U)
                elif tc == 1:
                    if not 1 <= cs <= 63:
                        raise ValueError("bad DAC AC conditioning")
                    arith_ac[tb] = cs
                else:
                    raise ValueError("bad DAC table class")
                i += 2
            if i != len(body):
                raise ValueError("trailing DAC bytes")
        elif marker == 0xDD:
            if len(body) != 2:
                raise ValueError("bad DRI")
            dri = struct.unpack(">H", body)[0]
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("SOS before SOF")
            if not body:
                raise ValueError("empty SOS segment")
            ns = body[0]
            if len(body) != 4 + 2 * ns:
                raise ValueError("bad SOS length")
            if lossless:
                # --- SOF3 scan (r11, T.81 Annex H): each sample is a
                # Huffman-coded DIFFERENCE (category 0-16; 16 = the
                # no-extra-bits 32768 symbol) from a spatial predictor
                # (Ss selects 1-7), computed mod 2^16 on the
                # point-transformed (Al=Pt) values. Scan-start and
                # restart rules per H.1.2.2: the reset sample predicts
                # 2^(P-Pt-1), the remainder of its line predictor 1,
                # the first sample of later lines predictor 2. ---
                fw_, fh_, fcomps = frame
                eff = (
                    fcomps
                    if len(fcomps) > 1
                    else [(fcomps[0][0], 1, 1, fcomps[0][3])]
                )
                hmax_l = max(c[1] for c in eff)
                vmax_l = max(c[2] for c in eff)
                mcux_l = -(-fw_ // hmax_l)
                mcuy_l = -(-fh_ // vmax_l)
                cid2ci = {c[0]: i for i, c in enumerate(fcomps)}
                scomps = []  # (component index, DC table id)
                for si in range(ns):
                    cs, tdta = body[1 + 2 * si : 3 + 2 * si]
                    if cs not in cid2ci:
                        raise ValueError("scan component absent from frame")
                    scomps.append((cid2ci[cs], tdta >> 4))
                if len({ci for ci, _td in scomps}) != ns:
                    raise ValueError("duplicate component in scan")
                if ns > 1 and ns != len(fcomps):
                    # T.81 A.2.3 defines an interleaved scan's MCU
                    # structure over the SCAN's component subset; the
                    # geometry below (hmax/vmax, mcux_l/mcuy_l) is
                    # derived from the frame's full set, which only
                    # coincides when the scan carries every component.
                    # No in-repo encoder emits partial interleave, so
                    # refuse foreign streams rather than mis-decode
                    # (r11 ADVICE).
                    raise ValueError(
                        "partial-interleave lossless scan unsupported "
                        "(scan must carry all frame components)"
                    )
                sel = body[1 + 2 * ns]  # Ss = predictor selector
                if not 1 <= sel <= 7:
                    raise ValueError("bad lossless predictor")
                if body[2 + 2 * ns] != 0:
                    raise ValueError("lossless scan must have Se=0")
                ahal = body[3 + 2 * ns]
                if ahal >> 4:
                    raise ValueError("lossless scan must have Ah=0")
                pt = ahal & 15
                if pt >= prec_bits:
                    raise ValueError("point transform exceeds precision")
                if lsamples is None:
                    # list-of-lists grids: the per-sample loop below is
                    # pure-Python-hot, and plain int rows beat numpy
                    # scalar indexing ~4x (converted to arrays at
                    # reconstruction)
                    lsamples = [
                        [[0] * (mcux_l * hs) for _ in range(mcuy_l * vs)]
                        for _cid, hs, vs, _tq in eff
                    ]
                    ls_done = [False] * len(fcomps)
                    ls_pt = [0] * len(fcomps)
                for ci, _td in scomps:
                    if ls_done[ci]:
                        raise ValueError("component decoded twice")
                tbls = []
                for _ci, td in scomps:
                    tbl = huff.get((0, td))
                    if tbl is None:
                        raise ValueError("missing Huffman table")
                    tbls.append(tbl)
                segs, endpos = _jpeg_split_entropy(data, pos + 2 + length)
                if ns > 1:
                    # interleaved: an MCU holds hs×vs SAMPLES per
                    # component (T.81 H.2.1 — samples, not blocks)
                    n_units = mcux_l * mcuy_l
                    unit_geom = [
                        (si_, ci_, eff[ci_][1], eff[ci_][2])
                        for si_, (ci_, _t) in enumerate(scomps)
                    ]
                else:
                    ci0 = scomps[0][0]
                    _c0, hs0, vs0, _q0 = eff[ci0]
                    gh0 = -(-fh_ * vs0 // vmax_l)
                    gw0 = -(-fw_ * hs0 // hmax_l)
                    n_units = gh0 * gw0
                if dri:
                    if len(segs) < -(-n_units // dri):
                        raise ValueError("missing restart segment")
                elif len(segs) != 1:
                    raise ValueError("restart markers without DRI")
                default = 1 << (prec_bits - pt - 1)
                reset = [None] * ns  # (row, col) of each comp's reset
                br = _JpegBitReader(segs[0])
                seg_idx = 0
                hd, ext = _jpeg_huff_decode, _jpeg_extend

                def decode_sample(si, ci, r, c):
                    t = hd(br, tbls[si])
                    if t > 16:
                        raise ValueError("bad lossless diff category")
                    if t == 16:  # H.1.2.2: 32768, no appended bits
                        diff = 32768
                    elif t:
                        diff = ext(br.read_bits(t), t)
                    else:
                        diff = 0
                    G = lsamples[ci]
                    rs = reset[si]
                    if rs is None:
                        px_ = default
                        reset[si] = (r, c)
                    elif r == rs[0]:
                        px_ = G[r][c - 1]  # reset line: predictor 1
                    elif c == 0:
                        px_ = G[r - 1][c]  # line start: predictor 2
                    elif sel == 1:
                        px_ = G[r][c - 1]
                    elif sel == 2:
                        px_ = G[r - 1][c]
                    elif sel == 3:
                        px_ = G[r - 1][c - 1]
                    elif sel == 4:
                        px_ = G[r][c - 1] + G[r - 1][c] - G[r - 1][c - 1]
                    elif sel == 5:
                        px_ = G[r][c - 1] + (
                            (G[r - 1][c] - G[r - 1][c - 1]) >> 1
                        )
                    elif sel == 6:
                        px_ = G[r - 1][c] + (
                            (G[r][c - 1] - G[r - 1][c - 1]) >> 1
                        )
                    else:
                        px_ = (G[r][c - 1] + G[r - 1][c]) >> 1
                    G[r][c] = (px_ + diff) & 0xFFFF

                for ui in range(n_units):
                    if dri and ui and ui % dri == 0:
                        seg_idx += 1
                        br = _JpegBitReader(segs[seg_idx])
                        reset = [None] * ns
                    if ns > 1:
                        my, mx = divmod(ui, mcux_l)
                        for si, ci, hs_, vs_ in unit_geom:
                            r0, c0 = my * vs_, mx * hs_
                            for v_ in range(vs_):
                                for u_ in range(hs_):
                                    decode_sample(si, ci, r0 + v_, c0 + u_)
                    else:
                        decode_sample(0, ci0, ui // gw0, ui % gw0)
                if seg_idx != len(segs) - 1:
                    raise ValueError(
                        "unconsumed restart segment in lossless scan"
                    )
                if br.pos < len(segs[seg_idx]) - 1:
                    raise ValueError("unconsumed bytes in lossless scan")
                for ci, _td in scomps:
                    ls_done[ci] = True
                    ls_pt[ci] = pt
                pos = endpos
                continue
            if not progressive:
                if ns != len(frame[2]):
                    raise ValueError("scan/frame component mismatch")
                sel = {}
                for si in range(ns):
                    cs, tdta = body[1 + 2 * si : 3 + 2 * si]
                    sel[cs] = (tdta >> 4, tdta & 15)
                if body[1 + 2 * ns] != 0 or body[2 + 2 * ns] != 63:
                    raise ValueError("non-sequential spectral selection")
                scan = sel
                pos = pos + 2 + length
                break
            # --- progressive scan (spectral selection; interleaved DC
            # scans + single-component AC scans; subsampled color and
            # DRI/RSTn restarts supported as of r9) ---
            fw_, fh_, fcomps = frame
            # single-component frames ignore declared sampling (T.81
            # A.2.2), matching the baseline branch's rule
            eff = (
                fcomps
                if len(fcomps) > 1
                else [(fcomps[0][0], 1, 1, fcomps[0][3])]
            )
            hmax_p = max(c[1] for c in eff)
            vmax_p = max(c[2] for c in eff)
            mcux_p = -(-fw_ // (8 * hmax_p))
            mcuy_p = -(-fh_ // (8 * vmax_p))
            # per-component grids: non-interleaved scans cover the
            # component's OWN block raster (ceil of its scaled dims,
            # T.81 A.2.2); interleaved scans cover the MCU-padded one
            cgrid = [
                (
                    -(-(-(-fh_ * vs // vmax_p)) // 8),
                    -(-(-(-fw_ * hs // hmax_p)) // 8),
                )
                for _cid, hs, vs, _tq in eff
            ]
            cid2ci = {c[0]: i for i, c in enumerate(fcomps)}
            scomps = []  # (component index, DC table id, AC table id)
            for si in range(ns):
                cs, tdta = body[1 + 2 * si : 3 + 2 * si]
                if cs not in cid2ci:
                    raise ValueError("scan component absent from frame")
                scomps.append((cid2ci[cs], tdta >> 4, tdta & 15))
            if len({ci for ci, _td, _ta in scomps}) != ns:
                raise ValueError("duplicate component in scan")
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            if ah != 0 and ah != al + 1:
                raise ValueError("bad successive-approximation chain")
            if pcoefs is None:
                pcoefs = [
                    np.zeros((mcuy_p * vs, mcux_p * hs, 8, 8), np.int32)
                    for _cid, hs, vs, _tq in eff
                ]
                dc_seen = [False] * len(fcomps)
            segs, endpos = _jpeg_split_entropy(data, pos + 2 + length)
            # restart bookkeeping: the interval counts MCUs in
            # interleaved scans, data units (blocks) in
            # single-component ones (T.81 F.2.1.3.1); each restart
            # byte-aligns (new segment), resets DC predictions, and
            # may not be crossed by a pending EOB run
            if ns > 1:
                n_units = mcux_p * mcuy_p

                def unit_blocks(ui):
                    my, mx = divmod(ui, mcux_p)
                    for si_, (ci_, _td, _ta) in enumerate(scomps):
                        _c, hs_, vs_, _q = eff[ci_]
                        for by_ in range(vs_):
                            for bx_ in range(hs_):
                                yield si_, ci_, my * vs_ + by_, mx * hs_ + bx_
            else:
                ci0 = scomps[0][0]
                nbh0, nbw0 = cgrid[ci0]
                n_units = nbh0 * nbw0

                def unit_blocks(ui):
                    yield 0, ci0, ui // nbw0, ui % nbw0

            if dri:
                if len(segs) < -(-n_units // dri):
                    raise ValueError("missing restart segment")
            elif len(segs) != 1:
                raise ValueError("restart markers without DRI")
            if arith:
                # --- SOF10: progressive ARITHMETIC scans (r10) — the
                # T.81 G.2 models over the QM coder: DC first = the
                # sequential F.1.4.4.1 model on point-transformed
                # values, DC refinement = one fixed-bin decision per
                # block, AC first = the sequential F.1.4.4.2 walk over
                # the band, AC refinement = per-position EOB(kex-gated)
                # / newly-significant / correction-bit decisions.
                # Statistics reset per scan and per restart.
                from sparkga1_spark.operators import jpeg_arith as _JA

                def _fresh_p():
                    return (
                        {td_: bytearray(_JA.DC_STAT_BINS)
                         for _c, td_, _a in scomps},
                        {ta_: bytearray(_JA.AC_STAT_BINS)
                         for _c, _t, ta_ in scomps},
                        _JA.new_fixed_bin(),
                        [_JA.DCState() for _ in scomps],
                    )

                dcs_p, acs_p, fixed_p, dst_p = _fresh_p()
                dec = _JA.QMDecoder(segs[0])
                seg_idx = 0
                if ss == 0:
                    if se != 0:
                        raise ValueError("DC scan must have Se=0")
                    if ah == 0:
                        for ui in range(n_units):
                            if dri and ui and ui % dri == 0:
                                seg_idx += 1
                                dec = _JA.QMDecoder(segs[seg_idx])
                                dcs_p, acs_p, fixed_p, dst_p = _fresh_p()
                            for si, ci, by, bx in unit_blocks(ui):
                                td = scomps[si][1]
                                L, U = arith_dc.get(td, (0, 1))
                                dc = _JA.dc_decode(
                                    dec, dcs_p[td], dst_p[si], L, U
                                )
                                pcoefs[ci][by, bx, 0, 0] = dc << al
                        for ci, _td, _ta in scomps:
                            dc_seen[ci] = True
                    else:
                        if not all(dc_seen[ci] for ci, _td, _ta in scomps):
                            raise ValueError("DC refinement before DC scan")
                        for ui in range(n_units):
                            if dri and ui and ui % dri == 0:
                                seg_idx += 1
                                dec = _JA.QMDecoder(segs[seg_idx])
                                dcs_p, acs_p, fixed_p, dst_p = _fresh_p()
                            for _si, ci, by, bx in unit_blocks(ui):
                                if dec.decode(fixed_p, 0):
                                    pcoefs[ci][by, bx, 0, 0] |= 1 << al
                else:
                    if ns != 1:
                        raise ValueError(
                            "progressive AC scan must be single-component"
                        )
                    if not (1 <= ss <= se <= 63):
                        raise ValueError("bad spectral selection band")
                    aci, _td, ata = scomps[0]
                    Kx = arith_ac.get(ata, 5)
                    acoefs = pcoefs[aci]
                    nbh_a, nbw_a = cgrid[aci]
                    ast = acs_p[ata]
                    if ah == 0:
                        for mi in range(nbh_a * nbw_a):
                            if dri and mi and mi % dri == 0:
                                seg_idx += 1
                                dec = _JA.QMDecoder(segs[seg_idx])
                                dcs_p, acs_p, fixed_p, dst_p = _fresh_p()
                                ast = acs_p[ata]
                            by, bx = divmod(mi, nbw_a)
                            blk = acoefs[by, bx]
                            k = ss
                            while k <= se:
                                o = 3 * (k - 1)
                                if dec.decode(ast, o):
                                    break  # EOB
                                while dec.decode(ast, o + 1) == 0:
                                    o += 3
                                    k += 1
                                    if k > se:
                                        raise ValueError("AC index overflow")
                                sign = dec.decode(fixed_p, 0)
                                o += 2
                                m = dec.decode(ast, o)
                                if m:
                                    if dec.decode(ast, o):
                                        m <<= 1
                                        o = 189 if k <= Kx else 217
                                        while dec.decode(ast, o):
                                            m <<= 1
                                            if m == 0x8000:
                                                raise ValueError(
                                                    "corrupt AC magnitude"
                                                )
                                            o += 1
                                v = m
                                o += 14
                                while m := m >> 1:
                                    if dec.decode(ast, o):
                                        v |= m
                                v += 1
                                z = _JPEG_ZIGZAG[k]
                                blk[z >> 3, z & 7] = (-v if sign else v) << al
                                k += 1
                    else:
                        p1 = 1 << al
                        for mi in range(nbh_a * nbw_a):
                            if dri and mi and mi % dri == 0:
                                seg_idx += 1
                                dec = _JA.QMDecoder(segs[seg_idx])
                                dcs_p, acs_p, fixed_p, dst_p = _fresh_p()
                                ast = acs_p[ata]
                            by, bx = divmod(mi, nbw_a)
                            blk = acoefs[by, bx]
                            kex = se
                            while kex > 0 and blk[
                                _JPEG_ZIGZAG[kex] >> 3, _JPEG_ZIGZAG[kex] & 7
                            ] == 0:
                                kex -= 1
                            k = ss
                            while k <= se:
                                o = 3 * (k - 1)
                                if k > kex and dec.decode(ast, o):
                                    break  # EOB
                                while True:
                                    z = _JPEG_ZIGZAG[k]
                                    c = int(blk[z >> 3, z & 7])
                                    if c:
                                        if dec.decode(ast, o + 2):
                                            blk[z >> 3, z & 7] = (
                                                c + p1 if c > 0 else c - p1
                                            )
                                        break
                                    if dec.decode(ast, o + 1):
                                        blk[z >> 3, z & 7] = (
                                            -p1 if dec.decode(fixed_p, 0)
                                            else p1
                                        )
                                        break
                                    o += 3
                                    k += 1
                                    if k > se:
                                        raise ValueError(
                                            "AC refinement overflow"
                                        )
                                k += 1
                if seg_idx != len(segs) - 1:
                    raise ValueError(
                        "unconsumed restart segment in progressive scan"
                    )
                pos = endpos
                continue
            seg_idx = 0
            br = _JpegBitReader(segs[0])
            if ss == 0:
                # DC scans may interleave all components (an MCU holds
                # hs×vs blocks per component)
                if se != 0:
                    raise ValueError("DC scan must have Se=0")
                if ah == 0:
                    # DC first pass: diff-coded point-transformed values
                    tbls = []
                    for ci, td, _ta in scomps:
                        tbl = huff.get((0, td))
                        if tbl is None:
                            raise ValueError("missing Huffman table")
                        tbls.append(tbl)
                    preds = [0] * ns
                    for ui in range(n_units):
                        if dri and ui and ui % dri == 0:
                            seg_idx += 1
                            br = _JpegBitReader(segs[seg_idx])
                            preds = [0] * ns
                        for si, ci, by, bx in unit_blocks(ui):
                            t = _jpeg_huff_decode(br, tbls[si])
                            if t > (11 if prec_bits == 8 else 15):
                                raise ValueError("bad DC category")
                            diff = (
                                _jpeg_extend(br.read_bits(t), t) if t else 0
                            )
                            preds[si] += diff
                            pcoefs[ci][by, bx, 0, 0] = preds[si] << al
                    for ci, _td, _ta in scomps:
                        dc_seen[ci] = True
                else:
                    # DC refinement: one raw bit per block ORs in bit Al
                    # (two's-complement OR reconstructs negatives exactly:
                    # ((v>>1)<<1) | (v&1) == v)
                    if not all(dc_seen[ci] for ci, _td, _ta in scomps):
                        raise ValueError("DC refinement before DC scan")
                    for ui in range(n_units):
                        if dri and ui and ui % dri == 0:
                            seg_idx += 1
                            br = _JpegBitReader(segs[seg_idx])
                        for _si, ci, by, bx in unit_blocks(ui):
                            if br.read_bit():
                                pcoefs[ci][by, bx, 0, 0] |= 1 << al
            elif ah == 0:
                # AC first pass at point transform Al (T.81 G.1.1.1.1:
                # AC progressive scans are always single-component)
                if ns != 1:
                    raise ValueError("progressive AC scan must be single-component")
                if not (1 <= ss <= se <= 63):
                    raise ValueError("bad spectral selection band")
                aci, _td, ata = scomps[0]
                acoefs = pcoefs[aci]
                nbh_a, nbw_a = cgrid[aci]
                tbl = huff.get((1, ata))
                if tbl is None:
                    raise ValueError("missing Huffman table")
                eobrun = 0
                for mi in range(nbh_a * nbw_a):
                    if dri and mi and mi % dri == 0:
                        if eobrun:
                            raise ValueError("EOB run crosses restart boundary")
                        seg_idx += 1
                        br = _JpegBitReader(segs[seg_idx])
                    by, bx = divmod(mi, nbw_a)
                    if eobrun:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        rs = _jpeg_huff_decode(br, tbl)
                        r, s_ = rs >> 4, rs & 15
                        if s_ == 0:
                            if r == 15:
                                k += 16
                                continue
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.read_bits(r)
                            break
                        k += r
                        if k > se:
                            raise ValueError("AC index overflow")
                        z = _JPEG_ZIGZAG[k]
                        acoefs[by, bx, z >> 3, z & 7] = (
                            _jpeg_extend(br.read_bits(s_), s_) << al
                        )
                        k += 1
                if eobrun:
                    raise ValueError("EOB run past the last block")
            else:
                # AC refinement (G.1.2.3): adds bit Al to the band.
                # Newly significant coefficients arrive as ±1<<Al; every
                # already-nonzero coefficient passed over consumes one
                # correction bit (also inside ZRL spans and EOB runs).
                if ns != 1:
                    raise ValueError("progressive AC scan must be single-component")
                if not (1 <= ss <= se <= 63):
                    raise ValueError("bad spectral selection band")
                aci, _td, ata = scomps[0]
                acoefs = pcoefs[aci]
                nbh_a, nbw_a = cgrid[aci]
                tbl = huff.get((1, ata))
                if tbl is None:
                    raise ValueError("missing Huffman table")
                p1 = 1 << al
                eobrun = 0

                def _refine_tail(blk, k):
                    for kk in range(k, se + 1):
                        z = _JPEG_ZIGZAG[kk]
                        c = int(blk[z >> 3, z & 7])
                        if c != 0 and br.read_bit():
                            if (c & p1) == 0:
                                blk[z >> 3, z & 7] = (
                                    c + p1 if c > 0 else c - p1
                                )

                for mi in range(nbh_a * nbw_a):
                    if dri and mi and mi % dri == 0:
                        if eobrun:
                            raise ValueError("EOB run crosses restart boundary")
                        seg_idx += 1
                        br = _JpegBitReader(segs[seg_idx])
                    by, bx = divmod(mi, nbw_a)
                    blk = acoefs[by, bx]
                    if eobrun:
                        _refine_tail(blk, ss)
                        eobrun -= 1
                        continue
                    k = ss
                    broke_eob = False
                    while k <= se:
                        rs = _jpeg_huff_decode(br, tbl)
                        r, s_ = rs >> 4, rs & 15
                        newval = 0
                        if s_ == 0:
                            if r != 15:
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += br.read_bits(r)
                                broke_eob = True
                                break
                            # ZRL: a run of 16 zero-history positions
                        elif s_ == 1:
                            newval = p1 if br.read_bit() else -p1
                        else:
                            raise ValueError("bad AC refinement size")
                        # advance over r zero-history positions, reading
                        # a correction bit at every nonzero one passed
                        while k <= se:
                            z = _JPEG_ZIGZAG[k]
                            c = int(blk[z >> 3, z & 7])
                            if c != 0:
                                if br.read_bit() and (c & p1) == 0:
                                    blk[z >> 3, z & 7] = (
                                        c + p1 if c > 0 else c - p1
                                    )
                            else:
                                r -= 1
                                if r < 0:
                                    break
                            k += 1
                        if newval:
                            if k > se:
                                raise ValueError("AC refinement overflow")
                            z = _JPEG_ZIGZAG[k]
                            blk[z >> 3, z & 7] = newval
                        k += 1
                    if broke_eob:
                        # the (1<<r)-1 form above already excludes the
                        # current block — its tail refines here, and
                        # eobrun counts the FOLLOWING blocks only
                        _refine_tail(blk, k)
                if eobrun:
                    raise ValueError("EOB run past the last block")
            # a conformant scan is consumed to within its final padding
            # byte — leftover segments or whole unread bytes mean the
            # stream's geometry (SOF sampling, dims) and its entropy
            # data disagree; refuse rather than return a plausible
            # raster built from a prefix
            if seg_idx != len(segs) - 1:
                raise ValueError("unconsumed restart segment in progressive scan")
            if br.pos < len(segs[seg_idx]) - 1:
                raise ValueError("unconsumed bytes in progressive scan")
            pos = endpos
            continue
        pos += 2 + length

    w, h, comps = frame
    _check_raster_size(w, h, "JPEG")
    if lossless:
        # predictive reconstruction is already the sample values —
        # undo the point transform, crop the MCU padding, upsample
        # subsampled components, and emit raw planes (T.81/JFIF define
        # no color transform for lossless; components pass through)
        eff = (
            comps if len(comps) > 1 else [(comps[0][0], 1, 1, comps[0][3])]
        )
        hmax_l = max(c[1] for c in eff)
        vmax_l = max(c[2] for c in eff)
        maxv = (1 << prec_bits) - 1
        planes = []
        for ci, (_cid, hs, vs, _tq) in enumerate(eff):
            cw = -(-w * hs // hmax_l)
            ch = -(-h * vs // vmax_l)
            plane = (
                np.array(lsamples[ci], dtype=np.int64)[:ch, :cw]
                << ls_pt[ci]
            )
            plane = np.clip(plane, 0, maxv)
            if hs != hmax_l or vs != vmax_l:
                plane = np.repeat(
                    np.repeat(plane, vmax_l // vs, 0), hmax_l // hs, 1
                )
            planes.append(plane[:h, :w])
        dt = np.uint8 if prec_bits <= 8 else np.uint16
        return w, h, np.stack(planes, axis=2).astype(dt)
    if progressive:
        m = _jpeg_dct_matrix()
        eff = (
            comps
            if len(comps) > 1
            else [(comps[0][0], 1, 1, comps[0][3])]
        )
        hmax_p = max(c[1] for c in eff)
        vmax_p = max(c[2] for c in eff)
        pplanes = []
        center_p = float(1 << (prec_bits - 1))
        for ci, (_cid, hs, vs, tq) in enumerate(eff):
            if tq not in qt:
                raise ValueError(f"missing quant table {tq}")
            deq = pcoefs[ci].astype(np.float64) * qt[tq]
            spatial = np.einsum("ji,abjk,kl->abil", m, deq, m) + center_p
            nby, nbx = spatial.shape[:2]
            plane = spatial.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
            plane = np.clip(np.round(plane), 0, (1 << prec_bits) - 1)
            cw = -(-w * hs // hmax_p)
            ch = -(-h * vs // vmax_p)
            plane = plane[:ch, :cw]
            if hs != hmax_p or vs != vmax_p:
                plane = np.repeat(
                    np.repeat(plane, vmax_p // vs, 0), hmax_p // hs, 1
                )
            pplanes.append(plane[:h, :w])
        return w, h, _ycbcr_planes_to_u8(pplanes, prec_bits)
    if len(comps) == 1:
        # single-component scans are non-interleaved: one data unit per
        # MCU, declared sampling factors ignored (T.81 A.2.2)
        comps = [(comps[0][0], 1, 1, comps[0][3])]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    segs, _end = _jpeg_split_entropy(data, pos)
    readers = [_JpegBitReader(s) for s in segs]
    if dri:
        expected = -(-(mcux * mcuy) // dri)
        if len(readers) < expected:
            raise ValueError("missing restart segment")
    elif len(readers) != 1:
        raise ValueError("restart markers without DRI")

    tables = []
    for cid, hs, vs, tq in comps:
        if tq not in qt:
            raise ValueError(f"missing quant table {tq}")
        if cid not in scan:
            raise ValueError(f"component {cid} absent from scan")
        td, ta = scan[cid]
        if not arith and ((0, td) not in huff or (1, ta) not in huff):
            raise ValueError("missing Huffman table")
        tables.append((td, ta, qt[tq]))

    coefs = [
        np.zeros((mcuy * vs, mcux * hs, 8, 8), np.int32)
        for _, hs, vs, _ in comps
    ]
    if arith:
        # sequential arithmetic (SOF9): QM decode with per-TABLE stats
        # and per-COMPONENT DC conditioning; restarts reset the coder,
        # the statistics, and the DC states (F.2.4)
        from sparkga1_spark.operators import jpeg_arith as _JA

        def _fresh_arith():
            return (
                {td: bytearray(_JA.DC_STAT_BINS) for td, _ta, _q in tables},
                {ta: bytearray(_JA.AC_STAT_BINS) for _td, ta, _q in tables},
                _JA.new_fixed_bin(),
                [_JA.DCState() for _ in comps],
            )

        dcs, acs, fixed, dstates = _fresh_arith()
        dec = _JA.QMDecoder(segs[0])
        seg_idx = 0
        for mi in range(mcux * mcuy):
            if dri and mi and mi % dri == 0:
                seg_idx += 1
                dec = _JA.QMDecoder(segs[seg_idx])
                dcs, acs, fixed, dstates = _fresh_arith()
            my, mx = divmod(mi, mcux)
            for ci, (_, hs, vs, _) in enumerate(comps):
                td, ta, _q = tables[ci]
                L, U = arith_dc.get(td, (0, 1))
                Kx = arith_ac.get(ta, 5)
                for by in range(vs):
                    for bx in range(hs):
                        blk = coefs[ci][my * vs + by, mx * hs + bx]
                        blk[0, 0] = _JA.dc_decode(
                            dec, dcs[td], dstates[ci], L, U
                        )
                        _JA.ac_decode(
                            dec, acs[ta], fixed, Kx,
                            blk.reshape(64), _JPEG_ZIGZAG,
                        )
    else:
        pred = [0] * len(comps)
        br = readers[0]
        seg_idx = 0
        for mi in range(mcux * mcuy):
            if dri and mi and mi % dri == 0:
                seg_idx += 1
                br = readers[seg_idx]
                pred = [0] * len(comps)
            my, mx = divmod(mi, mcux)
            for ci, (_, hs, vs, _) in enumerate(comps):
                dct, act = huff[(0, tables[ci][0])], huff[(1, tables[ci][1])]
                for by in range(vs):
                    for bx in range(hs):
                        blk = coefs[ci][my * vs + by, mx * hs + bx]
                        t = _jpeg_huff_decode(br, dct)
                        if t > (11 if prec_bits == 8 else 15):
                            raise ValueError("bad DC category")
                        diff = _jpeg_extend(br.read_bits(t), t) if t else 0
                        pred[ci] += diff
                        blk[0, 0] = pred[ci]
                        k = 1
                        while k <= 63:
                            rs = _jpeg_huff_decode(br, act)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if rs == 0xF0:
                                    k += 16
                                    continue
                                break
                            k += r
                            if k > 63:
                                raise ValueError("AC index overflow")
                            z = _JPEG_ZIGZAG[k]
                            blk[z >> 3, z & 7] = _jpeg_extend(
                                br.read_bits(s), s
                            )
                            k += 1

    m = _jpeg_dct_matrix()
    planes = []
    center = float(1 << (prec_bits - 1))
    for ci, (_, hs, vs, _) in enumerate(comps):
        deq = coefs[ci].astype(np.float64) * tables[ci][2]
        spatial = np.einsum("ji,abjk,kl->abil", m, deq, m) + center
        nby, nbx = spatial.shape[:2]
        plane = spatial.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        plane = np.clip(np.round(plane), 0, (1 << prec_bits) - 1)
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        plane = plane[:ch, :cw]
        if hs != hmax or vs != vmax:
            plane = np.repeat(np.repeat(plane, vmax // vs, 0), hmax // hs, 1)
        planes.append(plane[:h, :w])

    return w, h, _ycbcr_planes_to_u8(planes, prec_bits)


def plant_jpeg_real_payloads(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, payload): a REAL baseline grayscale
    JPEG whose 8×8 blocks are CONSTANT tiles of the UTF-8 text bytes
    (wb = id%5+1 × hb = id%3+1 blocks ⇒ w = 8·wb, h = 8·hb). Flat
    blocks make the lossy pipeline exactly lossless (DC-only spectra,
    quant 1), so px_sum = 64 · (tiled byte sum) in closed form while
    the decode still runs the entire real entropy/IDCT path. Odd
    doc_ids are written PROGRESSIVE (SOF2): ids %4==3 with spectral
    selection only (DC scan + AC 1..63 with EOB-run coding; ids %8==7
    additionally with a DRI/RSTn RESTART INTERVAL of 2 — r9), ids
    %4==1 as COLOR with the full SUCCESSIVE-APPROXIMATION script
    (interleaved DC scan, per-component AC scans, DC/AC refinement)
    over gray (v,v,v) tiles — Y = v and Cb = Cr = 128 exactly under
    the JFIF matrix, so the color path is exactly lossless too and
    px_sum is simply 3 × the grayscale closed form (channels = 3).
    The color arm rotates layout by id: ids %8==1 are 4:2:0
    SUBSAMPLED (r9 — constant-128 chroma box-means to itself, so
    subsampling stays exactly lossless on gray tiles), ids %8==5 are
    4:4:4 with restart_interval=2. ids %4==2 are ARITHMETIC-coded
    (r10 — the T.81 QM coder of operators/jpeg_arith.py, entropy
    bytes byte-identical to libjpeg's): %8==2 sequential SOF9 + DAC,
    %8==6 PROGRESSIVE SOF10 with full successive approximation and a
    restart interval; as of r12 the %32==2 / %32==6 slots of that arm
    run at 12-BIT precision (the late-r11 arithmetic-12 decode
    feature, previously pytest-pinned only — planter frozen after the
    r11 bench windows). As of r11 two %4==0 slots rotate further: ids
    %16==0 are LOSSLESS SOF3 (spatial predictor (id//16)%7+1 — exact
    on ANY content, so the closed form holds trivially) and ids
    %16==4 are 12-BIT (byte values in the 0..4095 range; flat blocks
    exact, px_sum unchanged, decode dtype widens to uint16): %32==4
    extended sequential SOF1, %32==20 progressive SOF2 with
    successive approximation and restart intervals. As of r13 the
    remaining %4==0 slots rotate HIERARCHICAL streams (T.81 Annex J,
    the r12 decode feature — planter frozen after the r12 bench
    windows per convention): ids %32==8 are lossless resolution
    PYRAMIDS (DHP + SOF3 base + EXP expansion + differential SOF7;
    exact for ANY content, %64==40 as a deeper 12-bit pyramid with
    restarts) and ids %32==24 are DCT QUALITY LADDERS (SOF0 base +
    differential SOF5 refinement at quant 1; flat tiles exact,
    %64==56 with restarts); ids %16==12 stay plain baseline.
    The same oracle row thus certifies every decode layout —
    baseline, progressive, successive approximation, subsampled
    progressive, restart intervals, sequential AND progressive
    arithmetic, lossless, 12-bit, hierarchical — at zero gate-window
    cost (the PNG/GIF interlace precedent)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text_val in zip(pdf["doc_id"], pdf[text_col]):
                d = int(doc_id)
                wb, hb = d % 5 + 1, d % 3 + 1
                raw = (text_val or "").encode("utf-8") or b"\0"
                vals = np.resize(np.frombuffer(raw, np.uint8), (hb, wb))
                img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
                if d % 4 == 1:
                    rgb = np.repeat(img[:, :, None], 3, axis=2)
                    blob = build_jpeg_progressive(
                        rgb,
                        successive=True,
                        # r9 layout rotation: 4:2:0 subsampled vs
                        # 4:4:4-with-restarts (both exactly lossless
                        # on gray tiles — see docstring)
                        sampling=(2, 2) if d % 8 == 1 else None,
                        restart_interval=2 if d % 8 == 5 else 0,
                    )
                elif d % 4 == 3:
                    blob = build_jpeg_progressive(
                        img, restart_interval=2 if d % 8 == 7 else 0
                    )
                elif d % 4 == 2:
                    # r10: ARITHMETIC entropy coding (T.81 QM coder) —
                    # ids %8==2 sequential (SOF9 + DAC), ids %8==6
                    # PROGRESSIVE arithmetic (SOF10) with the full
                    # successive-approximation script AND a restart
                    # interval; flat blocks stay exactly lossless, so
                    # the closed-form oracle is untouched. r12 rotates
                    # the late-r11 12-BIT arithmetic classes into the
                    # gate row: ids %32==2 are 12-bit SOF9, ids %32==6
                    # 12-bit SOF10 (flat blocks exact at either level
                    # shift, so channels/px_sum are unchanged; decode
                    # dtype widens to uint16 as in the %16==4 slot)
                    prec = 12 if d % 32 in (2, 6) else 8
                    if d % 8 == 6:
                        blob = build_jpeg_arith_progressive(
                            img, successive=True, restart_interval=2,
                            precision=prec,
                        )
                    else:
                        blob = build_jpeg_arith(img, precision=prec)
                elif d % 16 == 0:
                    # r11: LOSSLESS SOF3 — same tiled pixels, exact by
                    # the codec's own contract (not just flat blocks);
                    # the spatial predictor rotates with the id so the
                    # row covers all seven over the corpus
                    blob = build_jpeg_lossless(
                        img, predictor=(d // 16) % 7 + 1
                    )
                elif d % 16 == 4:
                    # r11: 12-BIT frames — the byte values land in
                    # 0..255 of the 0..4095 range and flat blocks stay
                    # exactly lossless, so channels and the closed-form
                    # px_sum are untouched. ids %32==4 extended
                    # sequential SOF1; ids %32==20 PROGRESSIVE SOF2
                    # with successive approximation and restarts
                    if d % 32 == 20:
                        blob = build_jpeg_progressive(
                            img, precision=12, successive=True,
                            restart_interval=2,
                        )
                    else:
                        blob = build_jpeg_ext12(img)
                elif d % 32 == 8:
                    # r13: HIERARCHICAL lossless pyramid (T.81 Annex J
                    # — DHP, SOF3 base, EXP expansion, differential
                    # SOF7 frames). Exact for ANY content at any
                    # precision by the codec's own contract, so the
                    # closed form holds trivially; ids %64==40 rotate
                    # a deeper 12-BIT pyramid with restart intervals
                    # (decode dtype widens to uint16, px_sum
                    # unchanged)
                    if d % 64 == 40:
                        blob = build_jpeg_hierarchical(
                            img, mode="lossless", levels=3,
                            precision=12, restart_interval=2,
                        )
                    else:
                        blob = build_jpeg_hierarchical(
                            img, mode="lossless", levels=2
                        )
                elif d % 32 == 24:
                    # r13: HIERARCHICAL DCT quality ladder (SOF0 base
                    # with low bits split off + ONE differential SOF5
                    # refinement at quant 1) — flat 8x8 tiles decode
                    # exactly through both frames, so the closed-form
                    # oracle is untouched; ids %64==56 add restart
                    # intervals to every frame
                    blob = build_jpeg_hierarchical(
                        img, mode="dct",
                        restart_interval=2 if d % 64 == 56 else 0,
                    )
                else:
                    blob = build_jpeg_baseline(img)
                out.append((doc_id, blob))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


# --------------------------------------------------------------------------
# FLAC (RFC 9639, public spec) — REAL compressed-audio decode: the last
# classic compression family (linear prediction + Rice/Golomb entropy
# coding) decoded for real, completing the audio mirror of the image
# story (PCM parsed raw, µ-law/A-law expanded, IMA ADPCM state-machine
# replayed, and now an entropy-coded lossless codec). Decoder: stream
# marker + metadata-block walk (STREAMINFO mandatory), per-frame sync
# parse with CRC-8 header / CRC-16 frame verification, UTF-8 coded
# frame numbers, constant/verbatim/fixed(0-4)/LPC subframes, wasted
# bits, Rice method 0/1 residuals incl. the verbatim escape, all four
# channel assignments (independent / left-side / right-side / mid-side),
# and the STREAMINFO MD5 check over the decoded samples — an
# end-to-end integrity pin no fake could satisfy. Encoder (fixtures /
# tests only): 16-bit, blocksize-64 multi-frame streams, per-block
# best fixed predictor or least-squares quantized LPC, per-partition
# Rice parameter search with raw escape, correct CRCs and sample MD5.
# --------------------------------------------------------------------------

FLAC_MAGIC = b"fLaC"


def _crc8_flac(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07 if crc & 0x80 else crc << 1) & 0xFF
    return crc


def _crc16_flac(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005 if crc & 0x8000 else crc << 1) & 0xFFFF
    return crc


class _FlacBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)


class _FlacBitReader:
    __slots__ = ("data", "bitpos")

    def __init__(self, data: bytes, bitpos: int = 0):
        self.data = data
        self.bitpos = bitpos

    def read(self, nbits: int) -> int:
        end = self.bitpos + nbits
        if end > len(self.data) * 8:
            raise ValueError("FLAC bitstream underrun")
        v = 0
        pos = self.bitpos
        while nbits:
            byte = self.data[pos >> 3]
            avail = 8 - (pos & 7)
            take = avail if avail < nbits else nbits
            v = (v << take) | ((byte >> (avail - take)) & ((1 << take) - 1))
            pos += take
            nbits -= take
        self.bitpos = pos
        return v

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v >> (nbits - 1) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 20:
                raise ValueError("FLAC unary run overflow")
        return q

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7


def _flac_utf8_encode(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    out, nbytes = [], 2
    while n >= (1 << (nbytes * 5 + 1)) and nbytes < 7:
        nbytes += 1
    lead = (0xFF << (8 - nbytes)) & 0xFF
    shifts = (nbytes - 1) * 6
    out.append(lead | (n >> shifts))
    for i in range(nbytes - 1):
        shifts -= 6
        out.append(0x80 | ((n >> shifts) & 0x3F))
    return bytes(out)


def _flac_utf8_decode(br: _FlacBitReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("bad FLAC coded number")
    v = b0 & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        b = br.read(8)
        if b >> 6 != 0b10:
            raise ValueError("bad FLAC coded-number continuation")
        v = (v << 6) | (b & 0x3F)
    return v


_FLAC_FIXED_COEFS = {
    0: (),
    1: (1,),
    2: (2, -1),
    3: (3, -3, 1),
    4: (4, -6, 4, -1),
}


def _flac_rice_cost(residual, k: int) -> int:
    total = 0
    for r in residual:
        u = (r << 1) ^ (r >> 63) if r < 0 else r << 1
        total += (u >> k) + 1 + k
    return total


def _flac_write_residual(bw: _FlacBitWriter, residual, bps_raw: int,
                         force_escape: bool = False) -> None:
    """Rice method 0, partition order 0; per-partition parameter search
    with the all-ones escape to raw when rice loses (force_escape pins
    the decoder's escape path in tests — rice rarely loses at bps+4)."""
    best_k, best_cost = 0, None
    for k in range(15):
        c = _flac_rice_cost(residual, k)
        if best_cost is None or c < best_cost:
            best_k, best_cost = k, c
    raw_cost = 5 + len(residual) * bps_raw
    bw.write(0b00, 2)  # coding method: rice, 4-bit params
    bw.write(0, 4)  # partition order 0
    if force_escape or best_cost > raw_cost:
        bw.write(0b1111, 4)  # escape
        bw.write(bps_raw, 5)
        for r in residual:
            bw.write(r & ((1 << bps_raw) - 1), bps_raw)
        return
    bw.write(best_k, 4)
    for r in residual:
        u = (r << 1) ^ (r >> 63) if r < 0 else r << 1
        bw.write_unary(u >> best_k)
        if best_k:
            bw.write(u & ((1 << best_k) - 1), best_k)


def build_flac(samples, *, sample_rate: int = 8000, block_size: int = 64,
               predictor: str = "auto", channels: int = 1,
               channel_mode: str = "independent",
               force_escape: bool = False) -> bytes:
    """int16 samples (1-D mono, or interleaved / (n, 2) stereo) → a
    real FLAC stream: STREAMINFO (+sample MD5), blocksize-`block_size`
    frames, per-block best fixed predictor (or least-squares quantized
    LPC with predictor='lpc'), Rice residuals with parameter search
    and raw escape, CRC-8/CRC-16. `channel_mode` for stereo:
    independent | left_side | right_side | mid_side (the decorrelation
    the decoder must undo)."""
    import hashlib as _hl
    import struct

    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    if channels == 2:
        s = s.reshape(-1, 2)
        n = s.shape[0]
    else:
        s = s.reshape(-1)
        n = s.shape[0]
    if n == 0:
        raise ValueError("empty sample stream")
    if s.max() > 32767 or s.min() < -32768:
        raise ValueError("build_flac writes 16-bit samples")
    bps = 16

    md5 = _hl.md5(
        np.asarray(s, dtype="<i2").tobytes()
    ).digest()

    def encode_subframe(bw: _FlacBitWriter, chan, sub_bps: int, mode: str) -> None:
        chan = [int(v) for v in chan]
        if all(v == chan[0] for v in chan):
            bw.write(0, 1)
            bw.write(0b000000, 6)
            bw.write(0, 1)  # no wasted bits
            bw.write(chan[0] & ((1 << sub_bps) - 1), sub_bps)
            return
        if mode == "lpc" and len(chan) > 8:
            order = 2
            a = np.array([[chan[i - 1], chan[i - 2]] for i in range(order, len(chan))], dtype=np.float64)
            y = np.array(chan[order:], dtype=np.float64)
            coef, *_ = np.linalg.lstsq(a, y, rcond=None)
            shift = 10
            qcoef = [max(-2048, min(2047, int(round(c * (1 << shift))))) for c in coef]
            residual = [
                chan[i] - ((qcoef[0] * chan[i - 1] + qcoef[1] * chan[i - 2]) >> shift)
                for i in range(order, len(chan))
            ]
            if max(abs(r) for r in residual) < (1 << 30):
                bw.write(0, 1)
                bw.write(0b100000 | (order - 1), 6)
                bw.write(0, 1)
                for w in chan[:order]:
                    bw.write(w & ((1 << sub_bps) - 1), sub_bps)
                bw.write(12 - 1, 4)  # qlp precision 12
                bw.write(shift, 5)
                for c in qcoef:
                    bw.write(c & 0xFFF, 12)
                _flac_write_residual(bw, residual, min(32, sub_bps + 4), force_escape)
                return
        best = None
        max_order = min(4, len(chan) - 1)
        for order in range(max_order + 1):
            coefs = _FLAC_FIXED_COEFS[order]
            residual = [
                chan[i] - sum(c * chan[i - 1 - j] for j, c in enumerate(coefs))
                for i in range(order, len(chan))
            ]
            cost = sum(abs(r) for r in residual)
            if best is None or cost < best[0]:
                best = (cost, order, residual)
        _, order, residual = best
        bw.write(0, 1)
        bw.write(0b001000 | order, 6)
        bw.write(0, 1)
        for w in chan[:order]:
            bw.write(w & ((1 << sub_bps) - 1), sub_bps)
        _flac_write_residual(bw, residual, min(32, sub_bps + 4), force_escape)

    frames = bytearray()
    frame_no = 0
    for start in range(0, n, block_size):
        blk = s[start : start + block_size]
        bs = blk.shape[0]
        hdr = _FlacBitWriter()
        hdr.write(0b11111111111110, 14)
        hdr.write(0, 1)  # reserved
        hdr.write(0, 1)  # fixed-blocksize strategy
        hdr.write(0b0110, 4)  # blocksize: 8-bit at end of header
        hdr.write(0b0000, 4)  # sample rate: STREAMINFO
        if channels == 1:
            chan_assign, subchans, sub_bps = 0, [blk.tolist()], [bps]
        else:
            left, right = blk[:, 0].tolist(), blk[:, 1].tolist()
            if channel_mode == "independent":
                chan_assign, subchans, sub_bps = 1, [left, right], [bps, bps]
            elif channel_mode == "left_side":
                side = [l - r for l, r in zip(left, right)]
                chan_assign, subchans, sub_bps = 0b1000, [left, side], [bps, bps + 1]
            elif channel_mode == "right_side":
                side = [l - r for l, r in zip(left, right)]
                chan_assign, subchans, sub_bps = 0b1001, [side, right], [bps + 1, bps]
            elif channel_mode == "mid_side":
                mid = [(l + r) >> 1 for l, r in zip(left, right)]
                side = [l - r for l, r in zip(left, right)]
                chan_assign, subchans, sub_bps = 0b1010, [mid, side], [bps, bps + 1]
            else:
                raise ValueError(f"unknown channel_mode {channel_mode!r}")
        hdr.write(chan_assign, 4)
        hdr.write(0b100, 3)  # 16 bits/sample
        hdr.write(0, 1)  # reserved
        hdr.align()
        hdr_bytes = bytearray(hdr.out)
        hdr_bytes += _flac_utf8_encode(frame_no)
        hdr_bytes.append(bs - 1)  # the promised 8-bit blocksize
        hdr_bytes.append(_crc8_flac(bytes(hdr_bytes)))

        body = _FlacBitWriter()
        for chan, sb in zip(subchans, sub_bps):
            encode_subframe(body, chan, sb, predictor)
        body.align()
        frame = bytes(hdr_bytes) + bytes(body.out)
        frame += struct.pack(">H", _crc16_flac(frame))
        frames += frame
        frame_no += 1

    info = _FlacBitWriter()
    info.write(block_size, 16)
    info.write(block_size, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(sample_rate, 20)
    info.write(channels - 1, 3)
    info.write(bps - 1, 5)
    info.write(n, 36)
    streaminfo = bytes(info.out) + md5
    header = bytes([0x80, 0, 0, len(streaminfo)])  # last-block, type 0
    return FLAC_MAGIC + header + streaminfo + bytes(frames)


_FLAC_SR_TABLE = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}


def _flac_read_residual(br: _FlacBitReader, block_size: int, order: int) -> list[int]:
    method = br.read(2)
    if method > 1:
        raise ValueError("reserved FLAC residual coding method")
    pbits = 4 + method
    escape = (1 << pbits) - 1
    porder = br.read(4)
    nparts = 1 << porder
    if block_size % nparts:
        # RFC 9639: the block size MUST be evenly divisible by 2^porder —
        # proceeding would silently mis-size every partition
        raise ValueError("FLAC block size not divisible by partition count")
    if (block_size >> porder) < order:
        raise ValueError("bad FLAC partition order")  # partition 0 < 0 samples
    residual: list[int] = []
    for p in range(nparts):
        count = (block_size >> porder) - (order if p == 0 else 0)
        k = br.read(pbits)
        if k == escape:
            raw = br.read(5)
            for _ in range(count):
                residual.append(br.read_signed(raw) if raw else 0)
            continue
        for _ in range(count):
            q = br.read_unary()
            u = (q << k) | (br.read(k) if k else 0)
            residual.append((u >> 1) ^ -(u & 1))
    return residual


def _flac_read_subframe(br: _FlacBitReader, block_size: int, sub_bps: int) -> list[int]:
    if br.read(1):
        raise ValueError("bad FLAC subframe padding bit")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = 1
        while br.read(1) == 0:
            wasted += 1
    eff = sub_bps - wasted
    if eff <= 0:
        raise ValueError("FLAC wasted bits exceed sample size")
    if stype == 0b000000:
        v = br.read_signed(eff)
        out = [v] * block_size
    elif stype == 0b000001:
        out = [br.read_signed(eff) for _ in range(block_size)]
    elif 0b001000 <= stype <= 0b001100:
        order = stype & 0b000111
        if order > block_size:
            raise ValueError("FLAC predictor order exceeds block size")
        warm = [br.read_signed(eff) for _ in range(order)]
        residual = _flac_read_residual(br, block_size, order)
        coefs = _FLAC_FIXED_COEFS[order]
        out = list(warm)
        for r in residual:
            pred = sum(c * out[-1 - j] for j, c in enumerate(coefs))
            out.append(r + pred)
    elif stype >= 0b100000:
        order = (stype & 0b011111) + 1
        if order > block_size:
            raise ValueError("FLAC predictor order exceeds block size")
        warm = [br.read_signed(eff) for _ in range(order)]
        prec = br.read(4)
        if prec == 0b1111:
            raise ValueError("invalid FLAC qlp precision")
        prec += 1
        shift = br.read(5)
        if shift >> 4:
            raise ValueError("negative FLAC qlp shift")
        coefs = [br.read_signed(prec) for _ in range(order)]
        residual = _flac_read_residual(br, block_size, order)
        out = list(warm)
        for r in residual:
            pred = sum(c * out[-1 - j] for j, c in enumerate(coefs)) >> shift
            out.append(r + pred)
    else:
        raise ValueError("reserved FLAC subframe type")
    if wasted:
        out = [v << wasted for v in out]
    return out


def parse_flac(data: bytes):
    """FLAC bytes → (n_samples, sample_rate, samples int32 ndarray —
    1-D mono / (n, 2) stereo) via a COMPLETE real decode: metadata
    walk, per-frame CRC-8/CRC-16 verification, constant / verbatim /
    fixed / LPC subframes, Rice method 0/1 with the raw escape, wasted
    bits, all four stereo decorrelations, and the STREAMINFO MD5
    integrity check over the reassembled samples. ValueError on any
    structural defect — never a crash, never a silent wrong sample."""
    import hashlib as _hl
    import struct

    import numpy as np

    if len(data) < 42 or data[:4] != FLAC_MAGIC:
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated FLAC metadata")
        last = data[pos] >> 7
        btype = data[pos] & 0x7F
        blen = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + blen]
        if len(body) != blen:
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:
            if blen != 34:
                raise ValueError("bad STREAMINFO length")
            streaminfo = body
        elif btype == 127:
            raise ValueError("invalid FLAC metadata block type")
        pos += 4 + blen
        if last:
            break
    if streaminfo is None:
        raise ValueError("FLAC stream missing STREAMINFO")
    si = _FlacBitReader(streaminfo)
    si.read(16)  # min blocksize
    si.read(16)  # max blocksize
    si.read(24)
    si.read(24)
    rate = si.read(20)
    channels = si.read(3) + 1
    bps = si.read(5) + 1
    total = si.read(36)
    md5_expect = streaminfo[18:34]
    if rate == 0:
        raise ValueError("bad FLAC sample rate")
    if channels > 2:
        raise ValueError("more than 2 channels unsupported")
    if bps not in (8, 12, 16, 20, 24):
        raise ValueError(f"unsupported FLAC bits/sample {bps}")
    if total:
        _check_raster_size(total, channels, "FLAC")  # bomb guard, same cap

    chans: list[list[int]] = [[] for _ in range(channels)]
    got = 0
    while pos < len(data) and (not total or got < total):
        if pos + 2 > len(data):
            break
        br = _FlacBitReader(data, pos * 8)
        sync = br.read(14)
        if sync != 0b11111111111110:
            raise ValueError("bad FLAC frame sync")
        if br.read(1):
            raise ValueError("bad FLAC frame reserved bit")
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        chan_assign = br.read(4)
        size_code = br.read(3)
        if br.read(1):
            raise ValueError("bad FLAC frame reserved bit")
        _flac_utf8_decode(br)
        if bs_code == 0:
            raise ValueError("reserved FLAC blocksize code")
        if bs_code == 1:
            bs = 192
        elif 2 <= bs_code <= 5:
            bs = 576 << (bs_code - 2)
        elif bs_code == 6:
            bs = br.read(8) + 1
        elif bs_code == 7:
            bs = br.read(16) + 1
        else:
            bs = 256 << (bs_code - 8)
        if sr_code == 0:
            pass
        elif sr_code in _FLAC_SR_TABLE:
            if _FLAC_SR_TABLE[sr_code] != rate:
                raise ValueError("frame sample rate contradicts STREAMINFO")
        elif sr_code == 12:
            br.read(8)
        elif sr_code in (13, 14):
            br.read(16)
        else:
            raise ValueError("invalid FLAC sample rate code")
        if size_code == 0:
            pass
        elif size_code in (1, 2, 4, 5, 6, 7):
            declared = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}[size_code]
            if declared != bps:
                raise ValueError("frame sample size contradicts STREAMINFO")
        else:
            raise ValueError("reserved FLAC sample size code")
        hdr_len = (br.bitpos + 7) // 8 - pos + 1  # header incl. CRC byte
        if pos + hdr_len > len(data):
            raise ValueError("truncated FLAC frame header")
        if _crc8_flac(data[pos : pos + hdr_len - 1]) != data[pos + hdr_len - 1]:
            raise ValueError("FLAC frame header CRC-8 mismatch")
        br = _FlacBitReader(data, (pos + hdr_len) * 8)

        if chan_assign <= 0b0111:
            nsub = chan_assign + 1
            if nsub != channels:
                raise ValueError("frame channel count contradicts STREAMINFO")
            subs = [_flac_read_subframe(br, bs, bps) for _ in range(nsub)]
            frame_chans = subs
        elif chan_assign in (0b1000, 0b1001, 0b1010):
            if channels != 2:
                raise ValueError("stereo decorrelation in a mono stream")
            bps_a = bps + (1 if chan_assign == 0b1001 else 0)
            bps_b = bps + (1 if chan_assign in (0b1000, 0b1010) else 0)
            a = _flac_read_subframe(br, bs, bps_a)
            b = _flac_read_subframe(br, bs, bps_b)
            if chan_assign == 0b1000:  # left / side
                left = a
                right = [l - s for l, s in zip(a, b)]
            elif chan_assign == 0b1001:  # side / right
                right = b
                left = [r + s for r, s in zip(b, a)]
            else:  # mid / side
                left, right = [], []
                for m, s in zip(a, b):
                    t = (m << 1) | (s & 1)
                    left.append((t + s) >> 1)
                    right.append((t - s) >> 1)
            frame_chans = [left, right]
        else:
            raise ValueError("reserved FLAC channel assignment")
        br.align()
        body_end = br.bitpos // 8
        if body_end + 2 > len(data):
            raise ValueError("truncated FLAC frame footer")
        if _crc16_flac(data[pos:body_end]) != struct.unpack_from(">H", data, body_end)[0]:
            raise ValueError("FLAC frame CRC-16 mismatch")
        for c in range(channels):
            chans[c].extend(frame_chans[c])
        got += bs
        pos = body_end + 2

    if total and got < total:
        raise ValueError("FLAC stream ends before declared total samples")
    if total:
        chans = [c[:total] for c in chans]
    arr = np.array(chans, dtype=np.int64).T  # (n, channels)
    if md5_expect != b"\x00" * 16:
        dtype = {8: "<i1", 12: "<i2", 16: "<i2", 20: "<i4", 24: "<i4"}[bps]
        if bps in (8, 16):
            raw = np.ascontiguousarray(arr).astype(dtype).tobytes()
        else:
            # 12/20/24-bit streams pack ceil(bps/8) little-endian bytes
            nbytes = (bps + 7) // 8
            raw = b"".join(
                int(v).to_bytes(nbytes, "little", signed=True)
                for v in arr.reshape(-1)
            )
        if _hl.md5(raw).digest() != md5_expect:
            raise ValueError("FLAC sample MD5 mismatch")
    n = arr.shape[0]
    samples = arr[:, 0].astype(np.int32) if channels == 1 else arr.astype(np.int32)
    return n, rate, samples


def plant_flac_payloads(df: DataFrame) -> DataFrame:
    """(doc_id, …) → (doc_id, payload): a REAL multi-frame FLAC stream
    (blocksize 64, best fixed predictor per block, Rice residuals,
    CRC-8/16, sample MD5) of n = id%200+50 mono 16-bit samples
    s_i = ((id·19 + i·13) % 256 − 128)·256 at 8 kHz — the modular ramp
    produces long constant-residual runs (deep Rice quotients) broken
    by wrap-around spikes, exercising both the predictor search and
    the Rice parameter search in every payload."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 200 + 50
                s = ((d * 19 + 13 * np.arange(n, dtype=np.int64)) % 256 - 128) * 256
                out.append((doc_id, build_flac(s, sample_rate=8000)))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


# --------------------------------------------------------------------------
# AVI (RIFF) + Motion-JPEG — REAL compressed VIDEO decode with zero
# codec libraries: the RIFF/AVI container (public Microsoft "AVI RIFF
# File Reference" layout: RIFF('AVI ' LIST('hdrl' avih LIST('strl'
# strh strf)) LIST('movi' 00dc...) idx1)) carrying one baseline or
# progressive JPEG per '00dc' chunk, each decoded by the full parse_jpeg
# path above. This moves video from "Y4M only" (uncompressed) to a
# genuinely compressed format; the md5 FAKE branch now covers only
# inter-frame-predicted codecs (MP4/H.264), which need a codec library.
# Reference parity: SparkGA1 treats chunk payloads as opaque records
# for external tools (program/.../SparkGA1.scala chunk pipeline); here
# the per-chunk payload is decoded natively instead.
# --------------------------------------------------------------------------

AVI_MAGIC = b"RIFF"


def build_avi_mjpeg(frames_jpeg, width: int, height: int, *, fps: int = 25) -> bytes:
    """list of per-frame JPEG byte strings → a standards-shaped MJPEG
    AVI: avih main header, one 'vids'/'MJPG' stream (strh scale=1
    rate=fps, BITMAPINFOHEADER strf with biCompression='MJPG'),
    word-aligned '00dc' chunks inside LIST 'movi', and an idx1 index
    whose offsets follow the common convention (relative to the
    'movi' fourcc position)."""
    import struct

    if fps <= 0:
        raise ValueError("fps must be positive")
    n = len(frames_jpeg)
    if n == 0:
        raise ValueError("MJPEG AVI needs at least one frame")

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(listtype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", listtype + body)

    max_bytes = max(len(f) for f in frames_jpeg)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        max_bytes * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        max_bytes,  # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,  # dwReserved[4]
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII4h",
            0,  # dwFlags
            0, 0,  # wPriority, wLanguage
            0,  # dwInitialFrames
            1,  # dwScale
            fps,  # dwRate
            0,  # dwStart
            n,  # dwLength (frames)
            max_bytes,  # dwSuggestedBufferSize
            0,  # dwQuality
            0,  # dwSampleSize (0: variable-size video samples)
            0, 0, width, height,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,  # biSize
        width,
        height,
        1,  # biPlanes
        24,  # biBitCount
        b"MJPG",  # biCompression
        width * height * 3,  # biSizeImage
        0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_chunks = []
    offsets = []  # offset of each 00dc fourcc, relative to 'movi' fourcc
    off = 4  # the movi LIST body starts with the 'movi' fourcc itself
    for f in frames_jpeg:
        c = chunk(b"00dc", bytes(f))
        offsets.append(off)
        movi_chunks.append(c)
        off += len(c)
    movi = lst(b"movi", b"".join(movi_chunks))
    idx1 = b"".join(
        b"00dc"
        + struct.pack("<III", 0x10, offsets[i], len(frames_jpeg[i]))
        for i in range(n)
    )
    riff_body = b"AVI " + hdrl + movi + chunk(b"idx1", idx1)
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def parse_avi_mjpeg(data: bytes):
    """AVI bytes → (width, height, fps, [HxWxC uint8 frames]): a real
    RIFF walk (chunk tree, word alignment, declared-size validation),
    MJPG stream-header checks, then a FULL JPEG decode of every
    '00dc' chunk via parse_jpeg — baseline, progressive, and color
    progressive frames all land on the same raster contract. Raises
    ValueError on structural damage: bad magic, truncated chunks,
    stream/frame-count mismatches, frame dimensions disagreeing with
    the BITMAPINFOHEADER, or idx1 entries that don't match the movi
    chunks they claim to index."""
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    riff_size = struct.unpack_from("<I", data, 4)[0]
    if 8 + riff_size > len(data):
        raise ValueError("truncated RIFF payload")

    def walk(buf, pos, end):
        while pos + 8 <= end:
            fourcc = buf[pos : pos + 4]
            size = struct.unpack_from("<I", buf, pos + 4)[0]
            body_start = pos + 8
            if body_start + size > end:
                raise ValueError("chunk overruns its parent")
            yield fourcc, body_start, size
            pos = body_start + size + (size & 1)

    avih = None
    strh = None
    strf = None
    frames_raw = []  # (offset_of_fourcc_rel_to_movi_fourcc, payload)
    idx1 = None
    movi_fourcc_pos = None
    for fourcc, start, size in walk(data, 12, 8 + riff_size):
        if fourcc == b"LIST":
            listtype = data[start : start + 4]
            if listtype == b"hdrl":
                for f2, s2, z2 in walk(data, start + 4, start + size):
                    if f2 == b"avih":
                        avih = data[s2 : s2 + z2]
                    elif f2 == b"LIST" and data[s2 : s2 + 4] == b"strl":
                        for f3, s3, z3 in walk(data, s2 + 4, s2 + z2):
                            if f3 == b"strh" and strh is None:
                                strh = data[s3 : s3 + z3]
                            elif f3 == b"strf" and strf is None:
                                strf = data[s3 : s3 + z3]
            elif listtype == b"movi":
                movi_fourcc_pos = start
                for f2, s2, z2 in walk(data, start + 4, start + size):
                    if f2 == b"00dc":
                        frames_raw.append((s2 - 8 - start, data[s2 : s2 + z2]))
                    else:
                        raise ValueError("unsupported movi chunk " + repr(f2))
        elif fourcc == b"idx1":
            idx1 = data[start : start + size]

    if avih is None or len(avih) < 56:
        raise ValueError("missing avih header")
    if strh is None or len(strh) < 48 or strf is None or len(strf) < 40:
        raise ValueError("missing stream headers")
    if strh[0:4] != b"vids" or strh[4:8] != b"MJPG":
        raise ValueError("not an MJPG video stream")
    scale, rate = struct.unpack_from("<II", strh, 20)
    if scale <= 0 or rate <= 0 or rate % scale:
        raise ValueError("bad MJPEG frame rate")
    fps = rate // scale
    n_avih = struct.unpack_from("<I", avih, 16)[0]
    n_strh = struct.unpack_from("<I", strh, 32)[0]
    bi_w, bi_h = struct.unpack_from("<ii", strf, 4)
    if strf[16:20] != b"MJPG":
        raise ValueError("strf compression is not MJPG")
    if len(frames_raw) != n_avih or len(frames_raw) != n_strh:
        raise ValueError("frame count disagrees with headers")
    if idx1 is not None:
        if len(idx1) != 16 * len(frames_raw):
            raise ValueError("idx1 entry count mismatch")
        for i, (off, payload) in enumerate(frames_raw):
            ckid = idx1[16 * i : 16 * i + 4]
            _fl, ioff, ilen = struct.unpack_from("<III", idx1, 16 * i + 4)
            # offsets are movi-fourcc-relative (the common muxer
            # convention) or absolute file offsets — accept either
            if ckid != b"00dc" or ilen != len(payload) or (
                ioff != off and ioff != movi_fourcc_pos + off
            ):
                raise ValueError("idx1 entry disagrees with movi chunk")
    frames = []
    for _off, payload in frames_raw:
        w, h, px = parse_jpeg(payload)
        if w != bi_w or h != abs(bi_h):
            raise ValueError("frame dimensions disagree with strf")
        frames.append(px)
    return bi_w, abs(bi_h), fps, frames


MJPEG_FRAME_SCHEMA = (
    "doc_id long, frame_idx int, frame_ts_ms int, width int, height int, "
    "channels int, px_sum long"
)


def decode_mjpeg_frames(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """binary MJPEG AVI → one row per frame with REAL decoded pixel
    statistics (1→N flatMap, Arrow-batched): the container walk, every
    per-frame JPEG entropy decode, and the IDCT all run for real, so
    a defect anywhere from RIFF chunk math to refinement-bit alignment
    breaks px_sum."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                w, h, fps, frames = parse_avi_mjpeg(bytes(payload))
                for i, px in enumerate(frames):
                    out.append(
                        (
                            doc_id,
                            i,
                            i * 1000 // fps,
                            w,
                            h,
                            int(px.shape[2]),
                            int(px.sum(dtype=np.int64)),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "frame_idx", "frame_ts_ms", "width", "height",
                    "channels", "px_sum",
                ],
            )

    return _decode_map(df, run, MJPEG_FRAME_SCHEMA)


def plant_avi_payloads(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, payload): a REAL MJPEG AVI per
    document. Geometry: w = 8·(id%4+1), h = 8·(id%3+1), n = id%4+2
    frames at fps = id%5+10. Frame f tiles the UTF-8 text bytes into
    CONSTANT 8×8 blocks with a per-frame rotation (block j carries
    byte (j+f) mod L), so every frame's px_sum is closed-form:
    64·Σ_j bv[(j+f) mod L] — exactly lossless through the lossy codec
    because flat blocks are DC-only at quant 1. Frames rotate through
    the JPEG layouts by (id+f)%4 (the planted-image precedent): ==1
    4:4:4 COLOR successive-approximation progressive over gray
    (v,v,v) tiles (channels and px_sum ×3), ==3 grayscale
    spectral-selection progressive, else grayscale baseline — so the
    ONE video oracle row certifies container walk × every JPEG decode
    layout."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text_val in zip(pdf["doc_id"], pdf[text_col]):
                d = int(doc_id)
                wb, hb = d % 4 + 1, d % 3 + 1
                n, fps = d % 4 + 2, d % 5 + 10
                raw = (text_val or "").encode("utf-8") or b"\0"
                bv = np.frombuffer(raw, np.uint8)
                frames = []
                for f in range(n):
                    vals = bv[(np.arange(hb * wb) + f) % len(bv)].reshape(hb, wb)
                    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
                    if (d + f) % 4 == 1:
                        rgb = np.repeat(img[:, :, None], 3, axis=2)
                        frames.append(build_jpeg_progressive(rgb, successive=True))
                    elif (d + f) % 4 == 3:
                        frames.append(build_jpeg_progressive(img))
                    else:
                        frames.append(build_jpeg_baseline(img))
                out.append((doc_id, build_avi_mjpeg(frames, 8 * wb, 8 * hb, fps=fps)))
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


# --------------------------------------------------------------------------
# MP4 / ISO BMFF (ISO/IEC 14496-12, public spec) — REAL container
# METADATA: full box-tree walk (32-bit and 64-bit sizes, version 0/1
# full boxes), movie/track headers with 16.16 fixed-point dimensions,
# and the sample tables (stts/stsz/stco) cross-validated against the
# mdat payload. The frame PIXEL decode stays an honest fake — H.264
# inter-frame prediction genuinely needs a codec library — but
# duration, geometry, sample count, per-sample sizes, and codec id
# are now real parses, mirroring the image family's meta/decode split
# (parse_jpeg_meta vs parse_jpeg).
# --------------------------------------------------------------------------


def build_mp4_meta(
    width: int,
    height: int,
    sample_sizes,
    *,
    timescale: int = 600,
    sample_delta: int = 20,
    codec: bytes = b"avc1",
    version1: bool = False,
    chunks=None,
    chunk_gap: int = 0,
    co64: bool = False,
) -> bytes:
    """Minimal standards-shaped ISO BMFF file: ftyp + moov(mvhd,
    trak(tkhd, mdia(mdhd, hdlr, minf(stbl(stsd/stts/stsc/stsz/stco)))))
    + mdat whose payload length equals Σ sample_sizes (per-sample
    bytes are a deterministic ramp — the sample CONTENT is not claimed
    real, the TABLES are). `version1=True` writes version-1
    (64-bit duration) mvhd/tkhd/mdhd so both parse paths are planted.
    `chunks` (r10) is a per-chunk sample-count list summing to
    len(sample_sizes) — the COMMON wild-file layout where mdat holds
    many chunks and stsc attributes samples to them; the stsc entries
    are run-length compressed exactly as muxers write them.
    `chunk_gap` inserts that many 0xAA filler bytes between chunks
    inside mdat, so a demuxer that ignores the chunk offsets and reads
    contiguously produces provably wrong sample bytes. `co64` stores
    the chunk offsets as 64-bit (the large-file table)."""
    import struct

    sizes = [int(s) for s in sample_sizes]
    if not sizes or any(s <= 0 for s in sizes):
        raise ValueError("sample_sizes must be positive and non-empty")
    n = len(sizes)
    chunks = [n] if chunks is None else [int(c) for c in chunks]
    if any(c <= 0 for c in chunks) or sum(chunks) != n:
        raise ValueError("chunks must be positive and sum to the sample count")
    duration = n * sample_delta

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + btype + body

    def full(btype: bytes, version: int, body: bytes) -> bytes:
        return box(btype, struct.pack(">B3x", version) + body)

    v = 1 if version1 else 0
    q = ">Q" if version1 else ">I"
    mvhd = full(
        b"mvhd",
        v,
        struct.pack(q, 0) * 2  # creation/modification
        + struct.pack(">I", timescale)
        + struct.pack(q, duration)
        + struct.pack(">i", 0x00010000)  # rate 1.0
        + struct.pack(">h", 0x0100)  # volume
        + b"\x00" * 10
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next track id
    )
    tkhd = full(
        b"tkhd",
        v,
        struct.pack(q, 0) * 2
        + struct.pack(">I", 1)  # track id
        + b"\x00" * 4
        + struct.pack(q, duration)
        + b"\x00" * 16
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),  # 16.16 fixed
    )
    mdhd = full(
        b"mdhd",
        v,
        struct.pack(q, 0) * 2
        + struct.pack(">I", timescale)
        + struct.pack(q, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = full(b"hdlr", 0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00")
    sample_entry = (
        struct.pack(">I", 86)
        + codec
        + b"\x00" * 6
        + struct.pack(">H", 1)  # data reference index
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame count
        + b"\x00" * 32
        + struct.pack(">H", 24)  # depth
        + struct.pack(">h", -1)
    )
    stsd = full(b"stsd", 0, struct.pack(">I", 1) + sample_entry)
    stts = full(b"stts", 0, struct.pack(">III", 1, n, sample_delta))
    # stsc: run-length compressed (first_chunk, samples_per_chunk,
    # sample_description_index=1) — a new entry only where the
    # per-chunk count changes, exactly the muxer convention
    stsc_entries = []
    for ci, spc in enumerate(chunks):
        if not stsc_entries or stsc_entries[-1][1] != spc:
            stsc_entries.append((ci + 1, spc))
    stsc = full(
        b"stsc",
        0,
        struct.pack(">I", len(stsc_entries))
        + b"".join(
            struct.pack(">III", fc, spc, 1) for fc, spc in stsc_entries
        ),
    )
    stsz = full(
        b"stsz", 0, struct.pack(">II", 0, n) + struct.pack(f">{n}I", *sizes)
    )
    stbl_partial = stsd + stts + stsc + stsz
    # chunk payloads: per-sample deterministic ramp keyed by the GLOBAL
    # sample index (chunking never changes a sample's bytes), gap
    # filler between chunks so chunk offsets are load-bearing
    chunk_blobs = []
    s0 = 0
    for spc in chunks:
        chunk_blobs.append(
            bytes(
                (i * 131 + j * 7) % 256
                for i in range(s0, s0 + spc)
                for j in range(sizes[i])
            )
        )
        s0 += spc
    gap = b"\xaa" * chunk_gap
    payload = gap.join(chunk_blobs)
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")

    def assemble(first_off: int) -> bytes:
        offs = []
        off = first_off
        for blob in chunk_blobs:
            offs.append(off)
            off += len(blob) + chunk_gap
        if co64:
            co = full(
                b"co64",
                0,
                struct.pack(">I", len(offs))
                + b"".join(struct.pack(">Q", o) for o in offs),
            )
        else:
            co = full(
                b"stco",
                0,
                struct.pack(">I", len(offs))
                + b"".join(struct.pack(">I", o) for o in offs),
            )
        stbl = box(b"stbl", stbl_partial + co)
        minf = box(b"minf", stbl)
        mdia = box(b"mdia", mdhd + hdlr + minf)
        trak = box(b"trak", tkhd + mdia)
        moov = box(b"moov", mvhd + trak)
        mdat = box(b"mdat", payload)
        return ftyp + moov + mdat

    # two passes: the first measures moov to learn the mdat offset
    probe = assemble(0)
    first_off = len(probe) - len(payload)  # payload starts here
    out = assemble(first_off)
    assert len(out) == len(probe)
    return out


def _parse_mp4(data: bytes) -> dict:
    """Shared MP4/ISO-BMFF box-tree walk. Handles 32-bit sizes,
    size==1 (64-bit largesize), size==0 (box runs to end-of-parent),
    and version 0/1 full boxes; validates that children exactly tile
    their parents, that stts's sample total equals stsz's count, that
    the stsc run walk over the stco/co64 chunk table attributes
    EXACTLY stsz-many samples (r10 — multi-chunk is real), that every
    chunk's byte range lands inside mdat, and that the tkhd 16.16
    geometry matches the stsd sample-entry geometry. Raises ValueError
    on structural damage — never a guessed row. Returns the validated
    tables (incl. per-sample absolute offsets) for the meta and demux
    fronts."""
    import struct

    if len(data) < 16 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF file")

    def walk(pos, end):
        while pos < end:
            if pos + 8 > end:
                raise ValueError("truncated box header")
            size = struct.unpack_from(">I", data, pos)[0]
            btype = data[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:
                if pos + 16 > end:
                    raise ValueError("truncated largesize box")
                size = struct.unpack_from(">Q", data, pos + 8)[0]
                body = pos + 16
            elif size == 0:
                size = end - pos
            if size < body - pos or pos + size > end:
                raise ValueError("box overruns its parent")
            yield btype, body, pos + size
            pos += size

    def fullbox(body, end):
        version = data[body]
        return version, body + 4

    found = {}
    n_traks = 0

    def descend(pos, end, path=()):
        nonlocal n_traks
        for btype, body, bend in walk(pos, end):
            key = path + (btype,)
            if btype == b"trak":
                n_traks += 1
            if btype in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
                descend(body, bend, key)
            else:
                found.setdefault(key, (body, bend))

    descend(0, len(data))
    if n_traks > 1:
        # first-wins path matching would silently pair one trak's tkhd
        # with another's stbl — refuse rather than guess
        raise ValueError("multi-track MP4 unsupported")

    def get(*path):
        hit = [v for k, v in found.items() if k[-len(path):] == path]
        if not hit:
            raise ValueError("missing box " + "/".join(p.decode() for p in path))
        return hit[0]

    # mvhd: movie timescale + duration (reads bounded by the box end —
    # a truncated full box must refuse, not read its sibling's bytes)
    body, bend = get(b"moov", b"mvhd")
    v, p = fullbox(body, bend)
    if v == 1:
        if p + 28 > bend:
            raise ValueError("truncated mvhd")
        timescale, duration = struct.unpack_from(">IQ", data, p + 16)
    elif v == 0:
        if p + 16 > bend:
            raise ValueError("truncated mvhd")
        timescale, duration = struct.unpack_from(">II", data, p + 8)
    else:
        raise ValueError("bad mvhd version")
    if timescale <= 0:
        raise ValueError("zero movie timescale")

    # tkhd: 16.16 fixed-point presentation size (last 8 bytes)
    body, bend = get(b"trak", b"tkhd")
    if bend - body < 12:
        raise ValueError("truncated tkhd")
    wfx, hfx = struct.unpack_from(">II", data, bend - 8)
    if wfx % 65536 or hfx % 65536:
        raise ValueError("fractional track dimensions unsupported")
    width, height = wfx >> 16, hfx >> 16

    # stsd: codec fourcc + sample-entry pixel dims
    body, bend = get(b"stbl", b"stsd")
    v, p = fullbox(body, bend)
    if p + 4 + 40 > bend:
        raise ValueError("truncated stsd")
    n_entries = struct.unpack_from(">I", data, p)[0]
    if n_entries != 1:
        raise ValueError("expected exactly one sample description")
    codec = data[p + 8 : p + 12].decode("ascii", "replace")
    sw, sh = struct.unpack_from(">HH", data, p + 4 + 32)
    if (sw, sh) != (width, height):
        raise ValueError("tkhd and sample-entry dimensions disagree")

    # stts: total sample count and total duration in media time
    body, bend = get(b"stbl", b"stts")
    v, p = fullbox(body, bend)
    if p + 4 > bend:
        raise ValueError("truncated stts")
    n_runs = struct.unpack_from(">I", data, p)[0]
    if p + 4 + 8 * n_runs > bend:
        raise ValueError("truncated stts")
    stts_samples = 0
    stts_ticks = 0
    stts_runs = []
    for i in range(n_runs):
        cnt, delta = struct.unpack_from(">II", data, p + 4 + 8 * i)
        stts_samples += cnt
        stts_ticks += cnt * delta
        stts_runs.append((cnt, delta))

    # stsz: per-sample sizes
    body, bend = get(b"stbl", b"stsz")
    v, p = fullbox(body, bend)
    if p + 8 > bend:
        raise ValueError("truncated stsz")
    uniform, n_samples = struct.unpack_from(">II", data, p)
    if uniform:
        sizes = [uniform] * n_samples
    else:
        if p + 8 + 4 * n_samples > bend:
            raise ValueError("truncated stsz")
        sizes = list(struct.unpack_from(f">{n_samples}I", data, p + 8))
    sample_bytes = sum(sizes)
    if n_samples != stts_samples:
        raise ValueError("stts/stsz sample counts disagree")

    # stsc: chunk→sample attribution runs (first_chunk,
    # samples_per_chunk, sample_description_index); each run applies
    # from its first_chunk until the next run's (§8.7.4)
    body, bend = get(b"stbl", b"stsc")
    v, p = fullbox(body, bend)
    if p + 4 > bend:
        raise ValueError("truncated stsc")
    n_sc = struct.unpack_from(">I", data, p)[0]
    if n_sc < 1 or p + 4 + 12 * n_sc > bend:
        raise ValueError("truncated stsc")
    stsc_runs = []
    for i in range(n_sc):
        fc, spc, sdi = struct.unpack_from(">III", data, p + 4 + 12 * i)
        if sdi != 1:
            # the stsd above demanded exactly one sample description
            raise ValueError("stsc references an unknown sample description")
        if spc < 1:
            raise ValueError("stsc declares an empty chunk run")
        if (i == 0 and fc != 1) or (i > 0 and fc <= stsc_runs[-1][0]):
            raise ValueError("stsc first_chunk must start at 1 and increase")
        stsc_runs.append((fc, spc))

    # stco (32-bit) or co64 (64-bit): ALL chunk offsets
    try:
        body, bend = get(b"stbl", b"stco")
        owidth, ofmt = 4, ">I"
    except ValueError:
        body, bend = get(b"stbl", b"co64")
        owidth, ofmt = 8, ">Q"
    v, p = fullbox(body, bend)
    if p + 4 > bend:
        raise ValueError("truncated chunk-offset box")
    n_chunks = struct.unpack_from(">I", data, p)[0]
    if n_chunks < 1:
        raise ValueError("empty chunk-offset table")
    if p + 4 + owidth * n_chunks > bend:
        raise ValueError("truncated chunk-offset box")
    offsets = [
        struct.unpack_from(ofmt, data, p + 4 + owidth * i)[0]
        for i in range(n_chunks)
    ]
    if stsc_runs[-1][0] > n_chunks:
        raise ValueError("stsc references a chunk past the offset table")

    # expand the runs over the chunk list and demand EXACT agreement
    # with stsz's sample count — a short final chunk would mean the
    # tables disagree, and a guessed attribution is worse than refusal
    spc_by_chunk = []
    run_i = 0
    for c in range(1, n_chunks + 1):
        while run_i + 1 < len(stsc_runs) and stsc_runs[run_i + 1][0] <= c:
            run_i += 1
        spc_by_chunk.append(stsc_runs[run_i][1])
    if sum(spc_by_chunk) != n_samples:
        raise ValueError("stsc/stco chunk walk disagrees with stsz count")

    # per-sample absolute offsets; every chunk's byte range must land
    # inside mdat (the chunks need not be contiguous — wild files
    # interleave tracks and leave gaps)
    mbody, mend = get(b"mdat")
    sample_offsets = []
    si = 0
    for off, spc in zip(offsets, spc_by_chunk):
        clen = sum(sizes[si : si + spc])
        if off < mbody or off + clen > mend:
            raise ValueError("sample data overruns mdat")
        o = off
        for s in sizes[si : si + spc]:
            sample_offsets.append(o)
            o += s
        si += spc
    first_off = offsets[0]

    return {
        "sample_offsets": sample_offsets,
        "width": width,
        "height": height,
        "timescale": int(timescale),
        "duration": int(duration),
        "codec": codec,
        "sizes": sizes,
        "stts_runs": stts_runs,
        "n_chunks": int(n_chunks),
        "first_off": int(first_off),
    }


def parse_mp4_meta(data: bytes):
    """MP4/ISO-BMFF bytes → (width, height, duration_ms, n_samples,
    codec, sample_bytes) via the REAL box-tree walk in _parse_mp4
    (which carries the validation contract)."""
    t = _parse_mp4(data)
    duration_ms = t["duration"] * 1000 // t["timescale"]
    return (
        t["width"],
        t["height"],
        int(duration_ms),
        len(t["sizes"]),
        t["codec"],
        int(sum(t["sizes"])),
    )


def parse_mp4_samples(data: bytes):
    """MP4/ISO-BMFF bytes → list of (sample_idx, ts_ms, payload bytes):
    a REAL single-track DEMUX — per-sample timestamps accumulate the
    stts run deltas, and per-sample byte ranges come from the full
    stsc chunk-attribution walk over the stco/co64 offsets (r10: the
    multi-chunk layout — the COMMON wild-file shape — demuxes for
    real; _parse_mp4 validates the walk against stsz exactly and
    refuses disagreeing tables). The sample CONTENT is returned as
    opaque bytes: extracting it is real demuxing, decoding it
    (H.264 …) is not claimed."""
    t = _parse_mp4(data)
    out = []
    ticks = 0
    it = iter(
        delta for cnt, delta in t["stts_runs"] for _ in range(cnt)
    )
    ts = t["timescale"]
    for i, (size, off) in enumerate(zip(t["sizes"], t["sample_offsets"])):
        out.append((i, ticks * 1000 // ts, data[off : off + size]))
        ticks += next(it)
    return out


MP4_META_SCHEMA = (
    "doc_id long, width int, height int, duration_ms long, n_samples int, "
    "codec string, sample_bytes long"
)


def decode_mp4_meta(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """binary ISO-BMFF → one metadata row per payload via the REAL box
    walk (geometry, duration, sample tables, codec). Pixel decode is
    NOT claimed — that is the honest H.264 boundary."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                w, h, dur, n, codec, sb = parse_mp4_meta(bytes(payload))
                out.append((doc_id, w, h, dur, n, codec, sb))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "width", "height", "duration_ms", "n_samples",
                    "codec", "sample_bytes",
                ],
            )

    return _decode_map(df, run, MP4_META_SCHEMA)


def plant_mp4_payloads(df: DataFrame) -> DataFrame:
    """(doc_id, …) → (doc_id, payload): a REAL minimal MP4 per document
    with closed-form metadata: w = id%320+16, h = id%240+16,
    n = id%30+5 samples, per-sample delta = id%20+10 ticks at
    timescale 600 (duration_ms = n·delta·1000//600), sample i sized
    (id·7 + i·13) % 200 + 1 bytes. ids %3==0 write version-1 (64-bit
    duration) headers so both full-box parse paths carry gate rows.
    r10: the CHUNK LAYOUT rotates on an independent %4 axis — %4==0
    single-chunk (the legacy shape), %4==1 two samples per chunk,
    %4==2 three per chunk with 7 filler bytes between chunks, %4==3
    an irregular 1-then-4 walk stored as co64 with 3-byte gaps — so
    the stsc/stco/co64 attribution walk is load-bearing (gap bytes
    make a contiguous read provably wrong) while every closed-form
    oracle column is UNCHANGED (chunking never alters sample bytes)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 30 + 5
                sizes = [(d * 7 + i * 13) % 200 + 1 for i in range(n)]
                m = d % 4
                if m == 1:
                    chunks, gap, co64 = [2] * (n // 2) + ([1] if n % 2 else []), 0, False
                elif m == 2:
                    chunks, gap, co64 = [3] * (n // 3) + ([n % 3] if n % 3 else []), 7, False
                elif m == 3:
                    r = n - 1
                    chunks = [1] + [4] * (r // 4) + ([r % 4] if r % 4 else [])
                    gap, co64 = 3, True
                else:
                    chunks, gap, co64 = None, 0, False
                out.append(
                    (
                        doc_id,
                        build_mp4_meta(
                            d % 320 + 16,
                            d % 240 + 16,
                            sizes,
                            sample_delta=d % 20 + 10,
                            version1=(d % 3 == 0),
                            chunks=chunks,
                            chunk_gap=gap,
                            co64=co64,
                        ),
                    )
                )
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


MP4_SAMPLE_SCHEMA = (
    "doc_id long, sample_idx int, sample_ts_ms long, size int, byte_sum long"
)


def demux_mp4_samples(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """binary ISO-BMFF → one row per DEMUXED sample (1→N flatMap):
    real stts-accumulated timestamps and real mdat byte slices
    (summed, proving the extraction touched the actual sample bytes);
    decoding the sample content is NOT claimed — the honest H.264
    boundary, one level deeper than decode_mp4_meta."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                for i, ts_ms, blob in parse_mp4_samples(bytes(payload)):
                    out.append((doc_id, i, ts_ms, len(blob), sum(blob)))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "sample_idx", "sample_ts_ms", "size", "byte_sum",
                ],
            )

    return _decode_map(df, run, MP4_SAMPLE_SCHEMA)


# --------------------------------------------------------------------------
# MP3 (MPEG-1 Audio Layer III, ISO/IEC 11172-3 framing — public spec)
# — REAL frame-walk METADATA: sync/version/layer validation, the
# published bitrate/sample-rate index tables, per-frame length
# arithmetic (144·bitrate/rate + padding), ID3v2 (synchsafe size) and
# trailing ID3v1 tag skipping. Decoding the audio (hybrid filterbank
# + Huffman spectrum) genuinely needs a codec library and is NOT
# claimed — the same honest meta/decode split as MP4.
# --------------------------------------------------------------------------

_MP3_BITRATES = (  # MPEG-1 Layer III, kbit/s; index 0 = free, 15 = bad
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
_MP3_RATES = (44100, 48000, 32000)  # MPEG-1 sample-rate index 0..2


def build_mp3(
    n_frames: int,
    *,
    rate_index: int,
    bitrate_seq,
    padding_seq,
    id3v2_bytes: int = 0,
    id3v2: bytes | None = None,
) -> bytes:
    """n MPEG-1 Layer III frames (header + deterministic filler body,
    protection bit set = no CRC) with per-frame bitrate index and
    padding bit, optionally preceded by an ID3v2 tag (synchsafe size)
    and always followed by an ID3v1 'TAG' trailer — the three regions
    a real-world MP3 walk must separate."""
    if not 0 <= rate_index <= 2:
        raise ValueError("MPEG-1 sample-rate index must be 0..2")
    out = bytearray()
    if id3v2 is not None:  # a REAL pre-built tag (build_id3v2_frames)
        out += id3v2
    elif id3v2_bytes:
        body = bytes((i * 17) % 256 for i in range(id3v2_bytes))
        ss = id3v2_bytes
        size = bytes(
            [(ss >> 21) & 0x7F, (ss >> 14) & 0x7F, (ss >> 7) & 0x7F, ss & 0x7F]
        )
        out += b"ID3" + bytes([4, 0, 0]) + size + body
    rate = _MP3_RATES[rate_index]
    for f in range(n_frames):
        bi = int(bitrate_seq[f])
        pad = int(padding_seq[f]) & 1
        if not 1 <= bi <= 14:
            raise ValueError("bitrate index must be 1..14")
        flen = (144 * _MP3_BITRATES[bi] * 1000) // rate + pad
        hdr = bytes(
            [
                0xFF,
                0xFB,  # sync + MPEG-1 (11) + Layer III (01) + no-CRC (1)
                (bi << 4) | (rate_index << 2) | (pad << 1),
                0b11000000,  # mono, no mode ext, no copyright/original
            ]
        )
        body = bytes(((f * 31 + j * 11) % 256) for j in range(flen - 4))
        out += hdr + body
    out += b"TAG" + bytes(125)  # ID3v1 trailer
    return bytes(out)


def parse_mp3_meta(data: bytes):
    """MP3 bytes → (n_frames, sample_rate, duration_ms, audio_bytes):
    a REAL MPEG-1 Layer III frame walk. Skips a leading ID3v2 tag
    (synchsafe size) and a trailing 128-byte ID3v1 'TAG' block, then
    validates every frame header — sync pattern, MPEG-1/Layer-III
    ids, bitrate and sample-rate indexes in range, sample rate
    constant across frames — and advances by the published length
    formula 144·bitrate/rate + padding. 1152 samples per frame gives
    the duration. Raises ValueError on desync or truncation; VBR
    streams (per-frame bitrate changes) are walked, not guessed from
    the first frame — the classic wrong-duration bug this walk
    exists to avoid."""
    pos = 0
    end = len(data)
    if data[:3] == b"ID3":
        if end < 10:
            raise ValueError("truncated ID3v2 header")
        if any(b & 0x80 for b in data[6:10]):
            raise ValueError("ID3v2 size bytes must be synchsafe")
        ss = (
            (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
        )
        pos = 10 + ss
        if pos > end:
            raise ValueError("ID3v2 tag overruns the file")
    if end - pos >= 128 and data[end - 128 : end - 125] == b"TAG":
        end -= 128
    n_frames = 0
    audio_bytes = 0
    rate = None
    while pos < end:
        if pos + 4 > end:
            raise ValueError("truncated MP3 frame header")
        b0, b1, b2 = data[pos], data[pos + 1], data[pos + 2]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError("MP3 frame sync lost")
        if (b1 >> 3) & 3 != 3:
            raise ValueError("only MPEG-1 audio supported")
        if (b1 >> 1) & 3 != 1:
            raise ValueError("only Layer III supported")
        bi, ri, pad = b2 >> 4, (b2 >> 2) & 3, (b2 >> 1) & 1
        if bi in (0, 15):
            raise ValueError("free-form/bad bitrate index unsupported")
        if ri > 2:
            raise ValueError("reserved sample-rate index")
        if rate is None:
            rate = _MP3_RATES[ri]
        elif rate != _MP3_RATES[ri]:
            raise ValueError("sample rate changes mid-stream")
        flen = (144 * _MP3_BITRATES[bi] * 1000) // rate + pad
        if pos + flen > end:
            raise ValueError("MP3 frame overruns the file")
        pos += flen
        n_frames += 1
        audio_bytes += flen
    if n_frames == 0:
        raise ValueError("no MP3 frames")
    duration_ms = n_frames * 1152 * 1000 // rate
    return n_frames, rate, int(duration_ms), audio_bytes


MP3_META_SCHEMA = (
    "doc_id long, n_frames int, sample_rate int, duration_ms long, "
    "audio_bytes long"
)


def decode_mp3_meta(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """binary MP3 → one metadata row per payload via the REAL frame
    walk (VBR-correct duration, exact audio byte span). Audio sample
    decode is NOT claimed — the honest codec boundary."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                n, rate, dur, ab = parse_mp3_meta(bytes(payload))
                out.append((doc_id, n, rate, dur, ab))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "n_frames", "sample_rate", "duration_ms",
                    "audio_bytes",
                ],
            )

    return _decode_map(df, run, MP3_META_SCHEMA)


def plant_mp3_payloads(df: DataFrame) -> DataFrame:
    """(doc_id, …) → (doc_id, payload): a REAL MPEG-1 Layer III frame
    stream per document with closed-form metadata: n = id%25+10
    frames at rate index id%3, frame f at bitrate index (id+f)%14+1
    with padding (id+f)%2 (a VBR stream — the walk must read every
    header), ids %4==0 carrying a REAL ID3v2.4 tag (TIT2 'doc {id}',
    TPE1 'source-{id%7}'); every payload ends in an ID3v1 'TAG'
    trailer."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 25 + 10
                out.append(
                    (
                        doc_id,
                        build_mp3(
                            n,
                            rate_index=d % 3,
                            bitrate_seq=[(d + f) % 14 + 1 for f in range(n)],
                            padding_seq=[(d + f) % 2 for f in range(n)],
                            id3v2=build_id3v2_frames(
                                {"TIT2": f"doc {d}", "TPE1": f"source-{d % 7}"}
                            )
                            if d % 4 == 0
                            else None,
                        ),
                    )
                )
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


def build_id3v2_frames(frames: dict) -> bytes:
    """{frame id → text} → an ID3v2.4 tag (header with synchsafe size;
    each frame a 10-byte header + encoding byte 0x03 (UTF-8) + text).
    Used by plant_mp3_payloads so the planted tags carry REAL frames."""
    body = bytearray()
    for fid, text in frames.items():
        fid_b = fid.encode("ascii")
        if len(fid_b) != 4:
            raise ValueError("ID3v2 frame id must be 4 chars")
        payload = b"\x03" + str(text).encode("utf-8")
        ss = len(payload)
        if ss >= 1 << 28:
            raise ValueError("frame too large")
        size = bytes(
            [(ss >> 21) & 0x7F, (ss >> 14) & 0x7F, (ss >> 7) & 0x7F, ss & 0x7F]
        )
        body += fid_b + size + b"\x00\x00" + payload
    ss = len(body)
    size = bytes(
        [(ss >> 21) & 0x7F, (ss >> 14) & 0x7F, (ss >> 7) & 0x7F, ss & 0x7F]
    )
    return b"ID3" + bytes([4, 0, 0]) + size + bytes(body)


def parse_id3v2_frames(data: bytes) -> dict:
    """MP3 bytes → {frame id → decoded text} for the leading ID3v2
    tag's TEXT frames (encoding 0x00 latin-1 or 0x03 UTF-8 — the two
    unambiguous single-string layouts; other encodings and
    non-text frames are skipped by size, never mis-decoded). Returns
    {} when no tag is present. Frame sizes are synchsafe (v2.4);
    padding (zero frame ids) ends the walk. Raises ValueError on a
    tag that overruns itself — the same structural honesty as the
    frame walk in parse_mp3_meta."""
    if data[:3] != b"ID3":
        return {}
    if len(data) < 10:
        raise ValueError("truncated ID3v2 header")
    if any(b & 0x80 for b in data[6:10]):
        raise ValueError("ID3v2 size bytes must be synchsafe")
    end = 10 + ((data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9])
    if end > len(data):
        raise ValueError("ID3v2 tag overruns the file")
    out = {}
    pos = 10
    while pos + 10 <= end:
        fid = data[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        if any(b & 0x80 for b in data[pos + 4 : pos + 8]):
            raise ValueError("ID3v2 frame size must be synchsafe")
        ss = (
            (data[pos + 4] << 21)
            | (data[pos + 5] << 14)
            | (data[pos + 6] << 7)
            | data[pos + 7]
        )
        body = data[pos + 10 : pos + 10 + ss]
        if pos + 10 + ss > end:
            raise ValueError("ID3v2 frame overruns the tag")
        if fid[:1] == b"T" and ss >= 1 and body[0] in (0x00, 0x03):
            enc = "latin-1" if body[0] == 0 else "utf-8"
            out[fid.decode("ascii")] = (
                body[1:].split(b"\x00")[0].decode(enc, "replace")
            )
        pos += 10 + ss
    return out


MP3_TAGS_SCHEMA = "doc_id long, title string, artist string, n_text_frames int"


def decode_mp3_tags(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """binary MP3 → (title, artist, n_text_frames) via the REAL ID3v2
    frame walk. Untagged payloads yield NULL title/artist and 0."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                tags = parse_id3v2_frames(bytes(payload))
                out.append(
                    (
                        doc_id,
                        tags.get("TIT2"),
                        tags.get("TPE1"),
                        len(tags),
                    )
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "title", "artist", "n_text_frames"]
            )

    return _decode_map(df, run, MP3_TAGS_SCHEMA)


# --------------------------------------------------------------------------
# TIFF (TIFF 6.0, Adobe public spec): REAL uncompressed-RGB decode in
# BOTH byte orders. TIFF is the one mainstream image container whose
# endianness is data-dependent ('II' little / 'MM' big), and whose IFD
# entries inline small values LEFT-JUSTIFIED in file byte order — the
# two traps a naive parser gets wrong on exactly one of the two
# orders. Strips are real: RowsPerStrip < height forces multi-strip
# raster assembly, not a single contiguous read.
# --------------------------------------------------------------------------

TIFF_MAGICS = (b"II*\x00", b"MM\x00*")

_TIFF_SHORT = 3
_TIFF_LONG = 4


def _tiff_entry(e: str, tag: int, typ: int, values, ext_offset=None) -> bytes:
    """One 12-byte IFD entry. Small values are inlined LEFT-JUSTIFIED
    in file byte order (TIFF 6.0 §2: 'the Value is stored in the
    left-most bytes of the field'); larger arrays live at ext_offset."""
    n = len(values)
    size = 2 if typ == _TIFF_SHORT else 4
    head = struct.pack(e + "HHI", tag, typ, n)
    if n * size <= 4:
        fld = b"".join(
            struct.pack(e + ("H" if typ == _TIFF_SHORT else "I"), v) for v in values
        )
        return head + fld + b"\x00" * (4 - len(fld))
    return head + struct.pack(e + "I", ext_offset)


def build_tiff(pixels, *, big_endian: bool = False, rows_per_strip: int = 8) -> bytes:
    """HxWx3 uint8 → a real TIFF 6.0 file: chosen byte order,
    uncompressed chunky RGB, the raster split into ceil(h/rps) strips.
    IFD entries are written in ascending tag order as the spec
    requires; BitsPerSample and the multi-strip offset/count arrays
    are stored out-of-line."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, c = px.shape
    if c != 3:
        raise ValueError("build_tiff writes RGB")
    e = ">" if big_endian else "<"
    rps = max(1, int(rows_per_strip))
    n_strips = (h + rps - 1) // rps
    raw = px.tobytes()
    strip_spans = []
    off = 8  # strip data directly after the 8-byte header
    for s in range(n_strips):
        nbytes = (min(h, (s + 1) * rps) - s * rps) * w * 3
        strip_spans.append((off, nbytes))
        off += nbytes
    bits_off = off
    off += 6  # BitsPerSample: 3 SHORTs, always out-of-line
    if n_strips > 1:
        so_off, off = off, off + 4 * n_strips
        sc_off, off = off, off + 4 * n_strips
    else:
        so_off = sc_off = None
    ifd_off = off
    entries = [
        _tiff_entry(e, 256, _TIFF_SHORT, [w]),
        _tiff_entry(e, 257, _TIFF_SHORT, [h]),
        _tiff_entry(e, 258, _TIFF_SHORT, [8, 8, 8], bits_off),
        _tiff_entry(e, 259, _TIFF_SHORT, [1]),  # no compression
        _tiff_entry(e, 262, _TIFF_SHORT, [2]),  # RGB
        _tiff_entry(e, 273, _TIFF_LONG, [s for s, _ in strip_spans], so_off),
        _tiff_entry(e, 274, _TIFF_SHORT, [1]),
        _tiff_entry(e, 277, _TIFF_SHORT, [3]),
        _tiff_entry(e, 278, _TIFF_SHORT, [rps]),
        _tiff_entry(e, 279, _TIFF_LONG, [n for _, n in strip_spans], sc_off),
    ]
    out = bytearray()
    out += (b"MM\x00*" if big_endian else b"II*\x00") + struct.pack(e + "I", ifd_off)
    out += raw
    out += struct.pack(e + "HHH", 8, 8, 8)
    if n_strips > 1:
        out += b"".join(struct.pack(e + "I", s) for s, _ in strip_spans)
        out += b"".join(struct.pack(e + "I", n) for _, n in strip_spans)
    out += struct.pack(e + "H", len(entries)) + b"".join(entries)
    out += struct.pack(e + "I", 0)  # no next IFD
    return bytes(out)


def _tiff_read_values(data: bytes, e: str, entry: bytes):
    """One IFD entry → (tag, [values]) honoring inline left-justified
    storage vs out-of-line arrays. Only SHORT/LONG are accepted — the
    two types the baseline TIFF tags use; anything else refuses."""
    tag, typ, n = struct.unpack(e + "HHI", entry[:8])
    if typ not in (_TIFF_SHORT, _TIFF_LONG):
        raise ValueError(f"tiff: unsupported type {typ} for tag {tag}")
    size = 2 if typ == _TIFF_SHORT else 4
    fmt = "H" if typ == _TIFF_SHORT else "I"
    if n * size <= 4:
        buf = entry[8 : 8 + n * size]
    else:
        (ptr,) = struct.unpack(e + "I", entry[8:12])
        if ptr + n * size > len(data):
            raise ValueError("tiff: value array overruns file")
        buf = data[ptr : ptr + n * size]
    return tag, list(struct.unpack(e + fmt * n, buf))


def parse_tiff(data: bytes):
    """TIFF bytes → (width, height, HxWx3 uint8) via the real IFD walk:
    byte-order dispatch, ascending-tag entries, strip reassembly with
    RowsPerStrip row accounting. Refuses (ValueError) anything but
    uncompressed 8-bit chunky RGB — never guesses at a codec."""
    import numpy as np

    if data[:4] not in TIFF_MAGICS:
        raise ValueError("tiff: bad magic")
    if len(data) < 8:
        raise ValueError("tiff: truncated header")
    e = ">" if data[:2] == b"MM" else "<"
    (ifd_off,) = struct.unpack(e + "I", data[4:8])
    if ifd_off + 2 > len(data):
        raise ValueError("tiff: IFD offset out of range")
    (n_entries,) = struct.unpack(e + "H", data[ifd_off : ifd_off + 2])
    if ifd_off + 2 + 12 * n_entries + 4 > len(data):
        raise ValueError("tiff: IFD overruns file")
    tags = {}
    for i in range(n_entries):
        o = ifd_off + 2 + 12 * i
        tag, vals = _tiff_read_values(data, e, data[o : o + 12])
        tags[tag] = vals
    for required in (256, 257, 273, 279):
        if not tags.get(required):
            raise ValueError(f"tiff: required tag {required} missing or empty")
    w, h = tags[256][0], tags[257][0]
    if w < 1 or h < 1:
        raise ValueError("tiff: non-positive dimensions")
    if (tags.get(259) or [1])[0] != 1:
        raise ValueError("tiff: compressed TIFF not claimed")
    if (tags.get(277) or [1])[0] != 3 or (tags.get(258) or [8])[:3] != [8, 8, 8]:
        raise ValueError("tiff: only 8-bit RGB chunky is claimed")
    offsets, counts = tags[273], tags[279]
    if len(offsets) != len(counts):
        raise ValueError("tiff: strip offset/count mismatch")
    rps = (tags.get(278) or [h])[0]
    if rps < 1:
        raise ValueError("tiff: non-positive RowsPerStrip")
    if len(offsets) != (h + rps - 1) // rps:
        raise ValueError("tiff: strip count disagrees with RowsPerStrip")
    raster = bytearray()
    for s, (so, sc) in enumerate(zip(offsets, counts)):
        rows = min(h, (s + 1) * rps) - s * rps
        if sc != rows * w * 3:
            raise ValueError("tiff: strip byte count disagrees with geometry")
        if so + sc > len(data):
            raise ValueError("tiff: strip overruns file")
        raster += data[so : so + sc]
    px = np.frombuffer(bytes(raster), np.uint8).reshape(h, w, 3)
    return w, h, px


def parse_tiff_meta(data: bytes):
    """Header+IFD-only TIFF metadata (no raster build)."""
    w, h, _ = parse_tiff(data)  # strips are validated, not decoded twice
    return w, h, 3


def plant_tiff_payloads(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, payload): a real TIFF per document —
    closed-form dims (w = id%45+4, h = id%29+4), pixels tiling the
    UTF-8 text bytes, byte order alternating by parity (odd ids are
    big-endian 'MM'), RowsPerStrip = id%7+3 so most payloads need
    true multi-strip reassembly."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text_val in zip(pdf["doc_id"], pdf[text_col]):
                d = int(doc_id)
                w, h = d % 45 + 4, d % 29 + 4
                raw = (text_val or "").encode("utf-8") or b"\0"
                px = np.resize(np.frombuffer(raw, np.uint8), (h, w, 3))
                out.append(
                    (
                        doc_id,
                        build_tiff(px, big_endian=d % 2 == 1, rows_per_strip=d % 7 + 3),
                    )
                )
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


# --------------------------------------------------------------------------
# WebP (RIFF container; VP8L/VP8/VP8X headers per Google's public
# container + RFC 6386 specs). Metadata is REAL — dims come from the
# actual bitstream headers, including the VP8 lossy keyframe start
# code and the VP8L 14-bit packed fields. VP8L PIXEL decode is real
# as of r7 (see the VP8L section at the end of this module); lossy
# VP8 pixel decode remains honestly unclaimed (RFC 6386 boolean
# arithmetic coding needs a codec) — the MP4/H.264 split.
# --------------------------------------------------------------------------

WEBP_VP8L_SIG = 0x2F


def _webp_chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def build_webp(w: int, h: int, *, variant: str = "VP8L", alpha: bool = False,
               filler: bytes = b"") -> bytes:
    """Real WebP container bytes for one image. variant:
    'VP8L' (lossless: signature byte + the packed 14-bit dims),
    'VP8'  (lossy: keyframe frame tag + 9d012a start code + 14-bit dims),
    'VP8X' (extended header with 24-bit canvas dims, then a VP8L
    bitstream whose dims must agree). filler stands in for the
    entropy-coded payload the meta walk never claims to decode."""
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("webp: dims exceed 14-bit field")
    vp8l_payload = (
        bytes([WEBP_VP8L_SIG])
        + struct.pack("<I", (w - 1) | ((h - 1) << 14) | (int(alpha) << 28))
        + filler
    )
    if variant == "VP8L":
        chunks = _webp_chunk(b"VP8L", vp8l_payload)
    elif variant == "VP8":
        if alpha:
            raise ValueError("webp: lossy VP8 has no alpha channel")
        part0 = b"\x9d\x01\x2a" + struct.pack("<HH", w & 0x3FFF, h & 0x3FFF) + filler
        # frame tag: keyframe (bit0=0), version 0, show_frame=1,
        # first-partition size in bits 5..23
        tag = (1 << 4) | (len(part0) << 5)
        chunks = _webp_chunk(b"VP8 ", bytes([tag & 0xFF, (tag >> 8) & 0xFF,
                                             (tag >> 16) & 0xFF]) + part0)
    elif variant == "VP8X":
        flags = 0x10 if alpha else 0
        vp8x = (
            bytes([flags]) + b"\x00\x00\x00"
            + struct.pack("<I", w - 1)[:3] + struct.pack("<I", h - 1)[:3]
        )
        chunks = _webp_chunk(b"VP8X", vp8x) + _webp_chunk(b"VP8L", vp8l_payload)
    else:
        raise ValueError(f"webp: unknown variant {variant}")
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks


def parse_webp_meta(data: bytes):
    """WebP bytes → (width, height, has_alpha, variant) via the real
    RIFF chunk walk (even-byte padding honored) and the real bitstream
    headers. A VP8X canvas that disagrees with its VP8L bitstream dims
    refuses — never pick one silently."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("webp: bad container magic")
    (riff_len,) = struct.unpack("<I", data[4:8])
    if 8 + riff_len > len(data):
        raise ValueError("webp: RIFF length overruns file")
    pos, end = 12, 8 + riff_len
    canvas = None
    alpha = False
    variant = None
    dims = None
    vp8l_alpha = None  # the lossless bitstream's own alpha_is_used bit
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("webp: chunk overruns file")
        if fourcc == b"VP8X":
            if clen != 10:
                raise ValueError("webp: VP8X payload must be 10 bytes")
            alpha = bool(body[0] & 0x10)
            cw = int.from_bytes(body[4:7], "little") + 1
            ch = int.from_bytes(body[7:10], "little") + 1
            canvas = (cw, ch)
            variant = "VP8X"
        elif fourcc == b"VP8L":
            if clen < 5 or body[0] != WEBP_VP8L_SIG:
                raise ValueError("webp: bad VP8L signature byte")
            (packed,) = struct.unpack("<I", body[1:5])
            dims = ((packed & 0x3FFF) + 1, ((packed >> 14) & 0x3FFF) + 1)
            vp8l_alpha = bool((packed >> 28) & 1)
            variant = variant or "VP8L"
        elif fourcc == b"VP8 ":
            if clen < 10:
                raise ValueError("webp: VP8 chunk too short for a keyframe")
            tag = int.from_bytes(body[0:3], "little")
            if tag & 1:
                raise ValueError("webp: VP8 chunk is not a keyframe")
            if body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("webp: missing VP8 keyframe start code")
            wv, hv = struct.unpack("<HH", body[6:10])
            dims = (wv & 0x3FFF, hv & 0x3FFF)
            variant = variant or "VP8"
        pos += 8 + clen + (clen % 2)
    if dims is None:
        raise ValueError("webp: no image bitstream chunk found")
    if canvas is not None and canvas != dims:
        raise ValueError("webp: VP8X canvas disagrees with bitstream dims")
    # For lossless payloads the VP8L header's alpha_is_used bit is
    # authoritative (r7 ADVICE): the pixel-decode path derives channels
    # from exactly that bit, so a VP8X container flag that disagrees
    # (container alpha=1, alpha_is_used=0) must not make the meta path
    # report 4 channels while the stats path reports 3.
    if vp8l_alpha is not None:
        alpha = vp8l_alpha
    return dims[0], dims[1], alpha, variant


def plant_webp_payloads(df: DataFrame) -> DataFrame:
    """(doc_id, …) → (doc_id, payload): a real WebP container per
    document with closed-form dims (w = id%40+5, h = id%33+5), the
    variant rotating by id%3 (VP8L / lossy VP8 / VP8X+VP8L) and the
    alpha bit set on ids %5==0 where the variant can carry it."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 40 + 5, d % 33 + 5
                variant = ("VP8L", "VP8", "VP8X")[d % 3]
                alpha = d % 5 == 0 and variant != "VP8"
                filler = hashlib.md5(str(d).encode()).digest()
                out.append(
                    (doc_id,
                     build_webp(w, h, variant=variant, alpha=alpha, filler=filler))
                )
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")


WEBP_META_SCHEMA = (
    "doc_id long, width int, height int, has_alpha boolean, variant string"
)


def decode_webp_meta(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """binary WebP → one metadata row per payload via the real chunk
    walk. Pixel decode is NOT claimed (VP8/VP8L entropy coding)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                w, h, alpha, variant = parse_webp_meta(bytes(payload))
                out.append((doc_id, w, h, alpha, variant))
            yield pd.DataFrame(
                out, columns=["doc_id", "width", "height", "has_alpha", "variant"]
            )

    return _decode_map(df, run, WEBP_META_SCHEMA)


# --------------------------------------------------------------------------
# VP8L — WebP LOSSLESS pixel decode (r7): the fourth real compressed
# image family after DEFLATE (PNG), byte-delta (QOI), and LZW (GIF) —
# canonical-Huffman entropy coding with an LZ77 backreference layer
# over ARGB pixels plus a hashed color cache, per Google's public
# "WebP Lossless Bitstream Specification".
#
# Scope (documented subset, ValueError on everything outside it — the
# honesty-ledger convention):
#   REAL (r8 + r9 — the FULL format): header, simple AND normal
#   Huffman codes (full code-length code with the 19-symbol order
#   table, zero-RLE 17/18, repeat-16, max_symbol budget), the 5-tree
#   group (green+length+cache, red, blue, alpha, distance), LZ77
#   prefix-coded lengths/distances — direct distances (dist_code >
#   120) AND near-distance plane codes (dist_code <= 120; the
#   120-entry offset map is DERIVED from the spec's neighborhood-by-
#   proximity rule independently in the engine and the reference
#   decoder, never transcribed — _vp8l_plane_offsets), color cache
#   (0x1e35a7bd multiplicative hash), the FULL spec §4 transform
#   family — SUBTRACT_GREEN, PREDICTOR (all 14 §4.2 modes),
#   COLOR_TRANSFORM (§4.3), COLOR_INDEXING (§4.5 incl. ≤16-color
#   pixel bundling) — §5.3 meta-prefix groups (spatial tree
#   switching), AND color-indexing combined with other transforms in
#   either read order (the bundled width reduction applies to
#   everything read after it; each transform's inverse runs at its
#   recorded read-time width). VP8L decodes IN FULL — the only
#   ValueErrors left are genuinely invalid streams (bad magic,
#   truncation, duplicate transforms, out-of-range palette indices,
#   oversized rasters).
#   REFUSED (ValueError, never guessed): nothing within VP8L. Lossy
#   VP8 pixels (separate codec family) decode for real within the
#   keyframe-intra subset of operators/vp8.py; outside it they refuse
#   and callers fall to the import-guarded fake.
#
# Encoder and decoder share only the bit-order and canonical-code
# conventions; tests/test_multimodal_bytes.py carries a STRICT
# independently-written reference decoder (the QOI lesson:
# roundtrip-consistency alone hides spec deviations).
# --------------------------------------------------------------------------

# kCodeLengthCodeOrder — the spec's fixed transmission order for the
# 19 code-length-code lengths
_VP8L_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
_VP8L_HASH_MUL = 0x1E35A7BD


def _vp8l_plane_offsets() -> tuple:
    """The 120 near-distance plane-code offsets (dx, dy), DERIVED from
    the spec's generation rule rather than transcribed as a literal
    (r8 VERDICT: a transcription error would decode
    consistently-but-wrong on both in-repo sides; a generative rule
    restores the two-sided check because the independent reference
    decoder re-derives it from its own construction).

    Rule (spec §5.2.2 "the smallest distance codes are reserved for a
    close neighborhood of the current pixel"): the neighborhood is the
    8 same-row pixels to the LEFT (dy=0, dx 1..8) plus, for each of
    the 7 rows ABOVE (dy 1..7), the 16 pixels spanning 8 columns left
    (dx=+8) through 7 columns right (dx=-7) — 8 + 7*16 = 120 pixels.
    Codes order the neighborhood by PROXIMITY: squared Euclidean
    distance ascending, ties broken upper row first (dy descending),
    then leftward first (dx descending, positive dx = left). The two
    publicly-documented head anchors pin the convention in pytest:
    code 1 = (0, 1) the pixel directly ABOVE, code 2 = (1, 0) the
    pixel directly LEFT."""
    cand = [(dx, 0) for dx in range(1, 9)]
    for dy in range(1, 8):
        cand.extend((dx, dy) for dx in range(-7, 9))
    cand.sort(key=lambda o: (o[0] * o[0] + o[1] * o[1], -o[1], -o[0]))
    return tuple(cand)


_VP8L_PLANE = _vp8l_plane_offsets()


def _vp8l_plane_dist(dist_code: int, w: int) -> int:
    """Map a near-distance plane code (1..120) to a scan-line distance
    for an image `w` pixels wide: dist = dx + dy*w, clamped up to 1
    (spec §5.2.2 — offsets right of the current pixel on the row above
    can land at non-positive scan distances for narrow images)."""
    dx, dy = _VP8L_PLANE[dist_code - 1]
    dist = dx + dy * w
    return dist if dist >= 1 else 1


class _Vp8lReader:
    """LSB-first bit reader over bytes.

    r13 optimization (guide §4.2 — per-task work): byte-fed
    accumulator instead of a per-BIT loop. read() was the decode hot
    spot (1.27 M calls per 300-doc profile, one loop iteration per
    bit); the accumulator refills a byte at a time and extracts n bits
    with two shifts. Truncation semantics unchanged: the error fires
    exactly when a needed bit's byte is past the end."""

    def __init__(self, data: bytes, start: int = 0):
        self.data = data
        self.byte = start
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        acc, nbits, byte = self.acc, self.nbits, self.byte
        data = self.data
        while nbits < n:
            if byte >= len(data):
                raise ValueError("vp8l: bitstream truncated")
            acc |= data[byte] << nbits
            byte += 1
            nbits += 8
        self.acc = acc >> n
        self.nbits = nbits - n
        self.byte = byte
        return acc & ((1 << n) - 1)


class _Vp8lWriter:
    """LSB-first bit writer."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def put_code(self, code: int, length: int) -> None:
        """Huffman codes transmit MSB-first (the first bit read walks
        the root of the tree). r13: reverse the bits locally and emit
        ONE put() — put() per bit was the encode hot spot (1.27 M
        calls per 300-doc profile)."""
        v = 0
        for i in range(length):
            v = (v << 1) | ((code >> i) & 1)
        self.put(v, length)

    def bytes(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc, self.nbits = 0, 0
        return bytes(self.out)


def _vp8l_canonical(lengths: list[int]):
    """code lengths → decode object (limits, bases, syms, max_len,
    single): codes assigned canonically (DEFLATE convention) in
    increasing (length, symbol) order. Refuses over-subscribed,
    incomplete, and single-symbol normal codes — the last is ambiguous
    bit-consumption territory across implementations, and per the
    module's refuse-don't-guess rule a spec-compliant encoder
    transmits a 1-symbol alphabet as a SIMPLE code (which consumes
    zero bits per symbol).

    r13 representation change (guide §4.2): length-indexed base/limit
    arrays instead of a (length, code)-tuple dict — the decoder walk
    replaces per-bit tuple construction + dict probes with two list
    indexes. For a Kraft-complete code the sequential MSB-first walk
    maintains code >= bases[length] (an unmatched prefix p satisfies
    p >= limits[l], so 2p|b >= bases[l+1]), hence `code <
    limits[length]` alone identifies a codeword and the symbol index
    is non-negative — corrupt streams fall through to the max_len
    guard exactly as before."""
    nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
    if not nz:
        raise ValueError("vp8l: empty huffman code")
    if len(nz) == 1:
        raise ValueError("vp8l: single-symbol normal code (use a simple code)")
    max_len = max(l for l, _ in nz)
    kraft = sum(1 << (max_len - l) for l, _ in nz)
    if kraft != 1 << max_len:
        raise ValueError("vp8l: invalid (incomplete/oversubscribed) huffman code")
    bl_count = [0] * (max_len + 1)
    for l, _ in nz:
        bl_count[l] += 1
    bases = [0] * (max_len + 1)
    code = 0
    for l in range(1, max_len + 1):
        code = (code + bl_count[l - 1]) << 1
        bases[l] = code
    syms: list[list[int]] = [[] for _ in range(max_len + 1)]
    for s, l in enumerate(lengths):
        if l > 0:
            syms[l].append(s)  # ascending symbol == canonical order
    limits = [bases[l] + len(syms[l]) for l in range(max_len + 1)]
    return limits, bases, syms, max_len, None


def _vp8l_read_symbol(br: _Vp8lReader, code_obj) -> int:
    limits, bases, syms, max_len, single = code_obj
    if single is not None:
        return single  # 1-symbol simple code: zero bits per symbol
    # r13: inlined bit extraction against local accumulator state —
    # the per-symbol method-call + dict-probe loop was the decode hot
    # spot (guide §4.2). Semantics identical incl. error order: a
    # truncated stream raises on the bit read, a corrupt-but-complete
    # stream raises after max_len+1 bits.
    data, ln = br.data, len(br.data)
    acc, nbits, byte = br.acc, br.nbits, br.byte
    code, length = 0, 0
    while True:
        if not nbits:
            if byte >= ln:
                raise ValueError("vp8l: bitstream truncated")
            acc = data[byte]
            byte += 1
            nbits = 8
        code = (code << 1) | (acc & 1)
        acc >>= 1
        nbits -= 1
        length += 1
        if length > max_len:
            raise ValueError("vp8l: bad huffman code in stream")
        if code < limits[length]:
            br.acc, br.nbits, br.byte = acc, nbits, byte
            return syms[length][code - bases[length]]


def _vp8l_read_code(br: _Vp8lReader, alphabet_size: int):
    """One Huffman code: simple (1-2 symbols) or normal (code-length
    coded)."""
    if br.read(1):  # simple
        nsym = br.read(1) + 1
        s0 = br.read(8) if br.read(1) else br.read(1)
        syms = [s0]
        if nsym == 2:
            syms.append(br.read(8))
        if any(s >= alphabet_size for s in syms):
            raise ValueError("vp8l: simple-code symbol out of range")
        if nsym == 1:
            return None, None, None, 0, syms[0]
        if syms[0] == syms[1]:
            raise ValueError("vp8l: duplicate simple-code symbols")
        # 2-symbol simple code in the canonical-array layout: both
        # codes have length 1, bases[1]=0, limits[1]=2
        return [0, 2], [0, 0], [[], [syms[0], syms[1]]], 1, None
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_VP8L_CL_ORDER[i]] = br.read(3)
    cl_table = _vp8l_canonical(cl_lengths)
    if br.read(1):  # explicit max_symbol budget
        length_nbits = 2 + 2 * br.read(3)
        budget = 2 + br.read(length_nbits)
    else:
        budget = alphabet_size
    lengths = [0] * alphabet_size
    prev, i = 8, 0
    while i < alphabet_size and budget > 0:
        budget -= 1
        sym = _vp8l_read_symbol(br, cl_table)
        if sym < 16:
            lengths[i] = sym
            i += 1
            if sym != 0:
                prev = sym
        elif sym == 16:
            rep = 3 + br.read(2)
            if i + rep > alphabet_size:
                raise ValueError("vp8l: code-length repeat overruns alphabet")
            for _ in range(rep):
                lengths[i] = prev
                i += 1
        elif sym == 17:
            i += 3 + br.read(3)
        else:
            i += 11 + br.read(7)
        if i > alphabet_size:
            raise ValueError("vp8l: code-length zero-run overruns alphabet")
    return _vp8l_canonical(lengths)


def _vp8l_prefix_read(code: int, br: _Vp8lReader) -> int:
    """length/distance prefix decode: 0..3 → 1..4; above, extra bits."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _vp8l_prefix_code(value: int):
    """inverse of _vp8l_prefix_read: value → (code, extra_bits, n_extra)."""
    if value < 1:
        raise ValueError("vp8l: prefix value must be >= 1")
    if value <= 4:
        return value - 1, 0, 0
    x = value - 1
    n = x.bit_length() - 1
    second = (x >> (n - 1)) & 1
    return 2 * n + second, x & ((1 << (n - 1)) - 1), n - 1


def _vp8l_decode_entropy_image(br, w: int, h: int, *, is_level0: bool) -> list:
    """One VP8L entropy-coded image stream (spec §5 DecodeImageStream
    minus the transform header): optional color cache, meta-prefix
    GROUPS (spatially-coded / level-0 images only, r8 — the prefix-
    group image decodes as a recursive entropy sub-image whose tile
    pixels carry the group index as (red << 8) | green; sub-images such
    as the predictor tile raster never carry the flag), one 5-tree
    group per meta code, and the LZ77 loop with prefix-coded lengths
    and direct distances (each symbol selects its tree group from the
    tile of its STARTING pixel). Returns the raw ARGB list BEFORE any
    inverse transforms."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("vp8l: color-cache bits out of range")
    meta_tiles = None
    meta_bits = 0
    n_groups = 1
    if is_level0 and br.read(1):
        meta_bits = br.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_tiles = _vp8l_decode_entropy_image(br, mw, mh, is_level0=False)
        meta_codes = [(px >> 8) & 0xFFFF for px in meta_tiles]
        n_groups = max(meta_codes) + 1
        meta_tiles = meta_codes
    cache_size = (1 << cache_bits) if cache_bits else 0
    groups = [
        [
            _vp8l_read_code(br, 256 + 24 + cache_size),
            _vp8l_read_code(br, 256),
            _vp8l_read_code(br, 256),
            _vp8l_read_code(br, 256),
            _vp8l_read_code(br, 40),
        ]
        for _ in range(n_groups)
    ]
    meta_w = (w + (1 << meta_bits) - 1) >> meta_bits if meta_tiles else 0
    n = w * h
    out = [0] * n
    cache = [0] * cache_size
    shift = 32 - cache_bits if cache_bits else 0

    def insert(argb: int) -> None:
        cache[(_VP8L_HASH_MUL * argb & 0xFFFFFFFF) >> shift] = argb

    pos = 0
    trees = groups[0]
    while pos < n:
        if meta_tiles is not None:
            trees = groups[
                meta_tiles[
                    ((pos // w) >> meta_bits) * meta_w + ((pos % w) >> meta_bits)
                ]
            ]
        g = _vp8l_read_symbol(br, trees[0])
        if g < 256:
            r = _vp8l_read_symbol(br, trees[1])
            b = _vp8l_read_symbol(br, trees[2])
            a = _vp8l_read_symbol(br, trees[3])
            px = (a << 24) | (r << 16) | (g << 8) | b
            out[pos] = px
            pos += 1
            if cache_size:
                insert(px)
        elif g < 280:
            length = _vp8l_prefix_read(g - 256, br)
            dist_code = _vp8l_prefix_read(_vp8l_read_symbol(br, trees[4]), br)
            if dist_code <= 120:
                # near-distance plane code (r9): the 120-entry offset
                # map is DERIVED from the spec's neighborhood-by-
                # proximity rule, not transcribed — see
                # _vp8l_plane_offsets
                dist = _vp8l_plane_dist(dist_code, w)
            else:
                dist = dist_code - 120
            if dist > pos:
                raise ValueError("vp8l: backreference before start of image")
            if pos + length > n:
                raise ValueError("vp8l: backreference overruns image")
            for _ in range(length):
                px = out[pos - dist]
                out[pos] = px
                pos += 1
                if cache_size:
                    insert(px)
        else:
            idx = g - 280
            if idx >= cache_size:
                raise ValueError("vp8l: color-cache index out of range")
            out[pos] = cache[idx]
            pos += 1
    return out


def _vp8l_avg2(a: int, b: int) -> int:
    """Per-channel (a+b)>>1 on packed ARGB."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _vp8l_chans(px: int) -> tuple:
    return (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF


def _vp8l_clamp255(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _vp8l_predict_one(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    """One spec §4.2 prediction from the four ARGB neighbors — the
    single source of predictor arithmetic for BOTH the decoder inverse
    and the encoder forward pass."""
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _vp8l_avg2(_vp8l_avg2(left, tr), top)
    if mode == 6:
        return _vp8l_avg2(left, tl)
    if mode == 7:
        return _vp8l_avg2(left, top)
    if mode == 8:
        return _vp8l_avg2(tl, top)
    if mode == 9:
        return _vp8l_avg2(top, tr)
    if mode == 10:
        return _vp8l_avg2(_vp8l_avg2(left, tl), _vp8l_avg2(top, tr))
    if mode == 11:
        la, lr, lg, lb = _vp8l_chans(left)
        ta, trd, tg, tb = _vp8l_chans(top)
        ca, cr, cg, cb = _vp8l_chans(tl)
        # Select: Manhattan distance of the full-precision estimate
        # L+T-TL to each of L and T; |p-L| reduces to |T-TL| and
        # |p-T| to |L-TL|; strictly-less prefers L (spec AMENDED2)
        p_l = abs(ta - ca) + abs(trd - cr) + abs(tg - cg) + abs(tb - cb)
        p_t = abs(la - ca) + abs(lr - cr) + abs(lg - cg) + abs(lb - cb)
        return left if p_l < p_t else top
    if mode == 12:
        la, lr, lg, lb = _vp8l_chans(left)
        ta, trd, tg, tb = _vp8l_chans(top)
        ca, cr, cg, cb = _vp8l_chans(tl)
        return (
            (_vp8l_clamp255(la + ta - ca) << 24)
            | (_vp8l_clamp255(lr + trd - cr) << 16)
            | (_vp8l_clamp255(lg + tg - cg) << 8)
            | _vp8l_clamp255(lb + tb - cb)
        )
    if mode == 13:
        av = _vp8l_avg2(left, top)
        aa, ar, ag, ab = _vp8l_chans(av)
        ca, cr, cg, cb = _vp8l_chans(tl)

        def half(a: int, b: int) -> int:
            d = a - b
            # C-style truncation toward zero, not Python floor
            return _vp8l_clamp255(a + (d // 2 if d >= 0 else -((-d) // 2)))

        return (
            (half(aa, ca) << 24)
            | (half(ar, cr) << 16)
            | (half(ag, cg) << 8)
            | half(ab, cb)
        )
    raise ValueError("vp8l: predictor mode out of range")


def _vp8l_ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta (spec §4.3): both the transform coefficient
    and the sample are SIGNED 8-bit; the product shifts right
    arithmetically by 5 (Python's >> on negative ints floors, matching
    C's arithmetic shift)."""
    if t >= 128:
        t -= 256
    if c >= 128:
        c -= 256
    return (t * c) >> 5


def _vp8l_color_inverse(
    res: list, w: int, h: int, size_bits: int, tiles: list
) -> None:
    """In-place inverse of the VP8L color transform (spec §4.3): the
    tile pixel's BLUE byte is green_to_red, GREEN is green_to_blue,
    RED is red_to_blue (libwebp's layout); red is reconstructed first
    and the red_to_blue delta uses the RECONSTRUCTED red."""
    tile_w = (w + (1 << size_bits) - 1) >> size_bits
    pos = 0
    for y in range(h):
        trow = (y >> size_bits) * tile_w
        for x in range(w):
            cte = tiles[trow + (x >> size_bits)]
            rtb = (cte >> 16) & 0xFF
            gtb = (cte >> 8) & 0xFF
            gtr = cte & 0xFF
            px = res[pos]
            g = (px >> 8) & 0xFF
            r = (((px >> 16) & 0xFF) + _vp8l_ct_delta(gtr, g)) & 0xFF
            b = ((px & 0xFF) + _vp8l_ct_delta(gtb, g) + _vp8l_ct_delta(rtb, r)) & 0xFF
            res[pos] = (px & 0xFF00FF00) | (r << 16) | b
            pos += 1


def _vp8l_palette_expand(
    coded: list, w: int, h: int, palette: list, width_bits: int
) -> list:
    """Inverse of the VP8L color-indexing transform (spec §4.5): each
    coded pixel's GREEN byte holds 1, 2, 4 or 8 palette indices
    (LSB-first bundling for palettes of ≤16 colors); an index past the
    palette refuses — never guesses a color."""
    w_coded = (w + (1 << width_bits) - 1) >> width_bits
    bits = 8 >> width_bits
    mask = (1 << bits) - 1
    per = 1 << width_bits
    out = [0] * (w * h)
    for y in range(h):
        row_c = y * w_coded
        row_o = y * w
        for x in range(w):
            packed = (coded[row_c + (x >> width_bits)] >> 8) & 0xFF
            idx = (packed >> ((x % per) * bits)) & mask
            if idx >= len(palette):
                raise ValueError("vp8l: palette index out of range")
            out[row_o + x] = palette[idx]
    return out


def _vp8l_predictor_inverse(
    res: list, w: int, h: int, size_bits: int, tiles: list
) -> None:
    """In-place inverse of the VP8L predictor transform (spec §4.2,
    all 14 modes): each decoded value is a per-channel mod-256 residual
    against a neighbor prediction; the predictor mode for pixel (x, y)
    is the GREEN channel of tile (x >> size_bits, y >> size_bits).
    Edge rules are the spec's: (0,0) predicts 0xff000000, the rest of
    the top row predicts L, the left column predicts T, and the
    TR-pixel for the rightmost column is exceptionally the leftmost
    pixel of the SAME row (the contiguous-memory address pos-w+1)."""
    tile_w = (w + (1 << size_bits) - 1) >> size_bits

    def addpx(r: int, p: int) -> int:
        return (
            (((r >> 24) + (p >> 24)) & 0xFF) << 24
            | ((((r >> 16) & 0xFF) + ((p >> 16) & 0xFF)) & 0xFF) << 16
            | ((((r >> 8) & 0xFF) + ((p >> 8) & 0xFF)) & 0xFF) << 8
            | (((r & 0xFF) + (p & 0xFF)) & 0xFF)
        )

    pos = 0
    for y in range(h):
        for x in range(w):
            if pos == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = res[pos - 1]  # top row: L regardless of mode
            elif x == 0:
                pred = res[pos - w]  # left column: T regardless of mode
            else:
                mode = (tiles[(y >> size_bits) * tile_w + (x >> size_bits)] >> 8) & 0xFF
                pred = _vp8l_predict_one(
                    mode, res[pos - 1], res[pos - w], res[pos - w - 1], res[pos - w + 1]
                )
            res[pos] = addpx(res[pos], pred)
            pos += 1


def parse_vp8l(body: bytes):
    """VP8L chunk payload → (width, height, alpha_used, argb list).
    The real decode within the documented subset — which as of round 8
    covers the FULL spec §4 transform family: PREDICTOR (all 14 §4.2
    modes), COLOR_TRANSFORM (§4.3 signed 3.5-fixed cross-channel
    deltas), SUBTRACT_GREEN, and COLOR_INDEXING (§4.5 delta-coded
    palette incl. ≤16-color pixel bundling), with inverses applied in
    reverse header-read order — PLUS meta-prefix groups (spec §5.3
    spatial tree switching, r8) and near-distance plane codes (r9: the
    120-entry offset map DERIVED from the spec's proximity rule
    independently on both in-repo sides rather than transcribed — a
    transcription error would decode consistently-but-wrong everywhere,
    the QOI failure mode; see _vp8l_plane_offsets).

    Color-indexing COMBINED with other transforms (the last VP8L
    refusal through r9's first half) now decodes: the spec's rule is
    that bundling reduces the running image width for everything read
    AFTER the color-indexing transform — later transforms size their
    tile rasters against the REDUCED width and their inverses run on
    the still-bundled raster — so each transform records the width in
    effect when it was read and its inverse uses exactly that width
    (libwebp records the same thing as transform->xsize_ in
    ReadTransform before applying the reduction). Both read orders are
    legal and handled: color-indexing first (later inverses operate on
    packed-index pixels) and color-indexing last (the palette maps
    residual values; earlier inverses then run at full width)."""
    if len(body) < 5 or body[0] != WEBP_VP8L_SIG:
        raise ValueError("vp8l: bad signature byte")
    br = _Vp8lReader(body, start=1)
    w = br.read(14) + 1
    h = br.read(14) + 1
    _check_raster_size(w, h, "VP8L")  # bomb guard BEFORE the raster alloc
    alpha_used = br.read(1)
    if br.read(3) != 0:
        raise ValueError("vp8l: unknown version")
    return w, h, bool(alpha_used), _vp8l_decode_stream(br, w, h)


def _vp8l_decode_stream(br, w: int, h: int) -> list:
    """The headerless VP8L image stream — <optional transforms>
    <spatially-coded image> with inverses applied in reverse read
    order — shared by full VP8L files and ALPH alpha planes (which
    carry the stream without the signature/dims header, RFC 9649
    container §Alpha)."""
    transforms = []
    seen = set()
    palette = None
    # the RUNNING width: color-indexing bundling reduces it for every
    # transform read after it and for the entropy-coded image itself
    cur_w = w
    while br.read(1):
        t = br.read(2)
        if t in seen:
            raise ValueError("vp8l: duplicate transform")
        seen.add(t)
        if t == 2:
            transforms.append(("subtract_green",))
        elif t in (0, 1):
            size_bits = br.read(3) + 2
            tile_w = (cur_w + (1 << size_bits) - 1) >> size_bits
            tile_h = (h + (1 << size_bits) - 1) >> size_bits
            tiles = _vp8l_decode_entropy_image(
                br, tile_w, tile_h, is_level0=False
            )
            transforms.append(
                (
                    "predictor" if t == 0 else "color_transform",
                    size_bits,
                    tiles,
                    cur_w,
                )
            )
        else:  # t == 3: color indexing
            psize = br.read(8) + 1
            raw_pal = _vp8l_decode_entropy_image(br, psize, 1, is_level0=False)
            # the palette sub-image is DELTA-coded: each entry adds the
            # previous, per channel mod 256 (spec §4.5)
            palette = []
            prev = 0
            for e in raw_pal:
                cur = (
                    ((((prev >> 24) + (e >> 24)) & 0xFF) << 24)
                    | (((((prev >> 16) & 0xFF) + ((e >> 16) & 0xFF)) & 0xFF) << 16)
                    | (((((prev >> 8) & 0xFF) + ((e >> 8) & 0xFF)) & 0xFF) << 8)
                    | (((prev & 0xFF) + (e & 0xFF)) & 0xFF)
                )
                palette.append(cur)
                prev = cur
            width_bits = (
                3 if psize <= 2 else 2 if psize <= 4 else 1 if psize <= 16 else 0
            )
            transforms.append(("color_indexing", cur_w, width_bits))
            cur_w = (cur_w + (1 << width_bits) - 1) >> width_bits
    out = _vp8l_decode_entropy_image(br, cur_w, h, is_level0=True)
    # inverse transforms run in REVERSE header-read order (spec §4);
    # each one runs at the width recorded when it was READ — a later
    # color-indexing inverse has already unbundled back to that width
    # by the time an earlier transform's inverse executes
    for tf in reversed(transforms):
        if tf[0] == "subtract_green":
            for i in range(len(out)):
                px = out[i]
                gch = (px >> 8) & 0xFF
                r = ((px >> 16) + gch) & 0xFF
                b = (px + gch) & 0xFF
                out[i] = (px & 0xFF00FF00) | (r << 16) | b
        elif tf[0] == "predictor":
            _vp8l_predictor_inverse(out, tf[3], h, tf[1], tf[2])
        elif tf[0] == "color_transform":
            _vp8l_color_inverse(out, tf[3], h, tf[1], tf[2])
        else:
            out = _vp8l_palette_expand(out, tf[1], h, palette, tf[2])
    return out


def parse_alph(body: bytes, w: int, h: int):
    """ALPH chunk → h×w uint8 alpha plane (WebP container spec):
    header byte = 2 reserved + 2 preprocessing (encoder-side level
    reduction — no decode effect) + 2 filtering + 2 compression bits;
    compression 0 = raw w·h bytes, 1 = a HEADERLESS VP8L image stream
    (the same <optional transforms><spatially-coded image> grammar as
    a full VP8L file — shared _vp8l_decode_stream) carrying alpha in
    the GREEN channel; then per-row unfiltering (horizontal /
    vertical / gradient predictors, first row horizontal-with-0, row
    starts predicted by the pixel above — libwebp's unfilter
    conventions, pinned bit-exact against WebPDecodeRGBA)."""
    import numpy as np

    if not body:
        raise ValueError("alph: empty chunk")
    hdr = body[0]
    comp = hdr & 3
    filt = (hdr >> 2) & 3
    if hdr >> 6:
        raise ValueError("alph: reserved bits set")
    if comp == 0:
        if len(body) - 1 < w * h:
            raise ValueError("alph: raw payload short")
        vals = np.frombuffer(body[1 : 1 + w * h], np.uint8).reshape(h, w)
        vals = vals.copy()
    elif comp == 1:
        argb = _vp8l_decode_stream(_Vp8lReader(body, start=1), w, h)
        vals = (
            (np.array(argb, np.uint32).reshape(h, w) >> 8) & 0xFF
        ).astype(np.uint8)
    else:
        raise ValueError("alph: unknown compression method")
    if filt:
        out = np.zeros_like(vals)
        for y in range(h):
            prev = out[y - 1] if y else None
            row = vals[y]
            if filt == 1 or prev is None:
                pred = 0 if prev is None else int(prev[0])
                for x in range(w):
                    pred = (pred + int(row[x])) & 0xFF
                    out[y, x] = pred
            elif filt == 2:
                out[y] = (prev.astype(np.int32) + row).astype(np.uint8)
            else:  # gradient
                left = tl = int(prev[0])
                for x in range(w):
                    top = int(prev[x])
                    g = left + top - tl
                    g = 0 if g < 0 else 255 if g > 255 else g
                    left = (int(row[x]) + g) & 0xFF
                    tl = top
                    out[y, x] = left
        vals = out
    return vals


def _yuv420_to_rgb(Y, U, V):
    """BT.601 limited-range YUV (the VP8 convention) + 4:2:0 nearest
    upsample → HxWx3 uint8. Documented conversion: the pixel-exact
    ground truth in tests compares YUV planes (WebPDecodeYUV), which
    sidesteps any converter's rounding choices; this converter is the
    plain float BT.601 inverse, clamped."""
    import numpy as np

    h, w = Y.shape
    up = np.repeat(np.repeat(U, 2, 0), 2, 1)[:h, :w].astype(np.float64)
    vp = np.repeat(np.repeat(V, 2, 0), 2, 1)[:h, :w].astype(np.float64)
    yf = (Y.astype(np.float64) - 16.0) * (255.0 / 219.0)
    cb = (up - 128.0) * (255.0 / 224.0)
    cr = (vp - 128.0) * (255.0 / 224.0)
    r = yf + 1.402 * cr
    g = yf - 0.344136 * cb - 0.714136 * cr
    b = yf + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(
        np.uint8
    )


def _rgb_to_yuv420(px):
    """HxWx3 uint8 → (Y, U, V) uint8 planes, BT.601 limited-range with
    box-mean 4:2:0 chroma (the inverse convention of _yuv420_to_rgb;
    both encoders' fixture pixels flow through this one helper)."""
    import numpy as np

    h, w = px.shape[:2]
    f = px.astype(np.float64)
    r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
    y = 16.0 + (219.0 / 255.0) * (0.299 * r + 0.587 * g + 0.114 * b)
    cb = 128.0 + (224.0 / 255.0) * (-0.168736 * r - 0.331264 * g + 0.5 * b)
    cr = 128.0 + (224.0 / 255.0) * (0.5 * r - 0.418688 * g - 0.081312 * b)
    ch, cw = (h + 1) >> 1, (w + 1) >> 1
    pads = ((0, ch * 2 - h), (0, cw * 2 - w))
    cb = np.pad(cb, pads, mode="edge").reshape(ch, 2, cw, 2).mean(axis=(1, 3))
    cr = np.pad(cr, pads, mode="edge").reshape(ch, 2, cw, 2).mean(axis=(1, 3))
    to8 = lambda a: np.clip(np.round(a), 0, 255).astype(np.uint8)  # noqa: E731
    return to8(y), to8(cb), to8(cr)


def _alph_forward_filter(a, filt):
    """Forward (encoder-side) alpha filtering — the exact inverse of
    parse_alph's unfilter conventions (first row horizontal-with-0,
    row starts predicted by the pixel above, gradient clamp)."""
    import numpy as np

    a = np.asarray(a, np.uint8)
    h, w = a.shape
    if filt == 0:
        return a.copy()
    out = np.zeros_like(a)
    for y in range(h):
        for x in range(w):
            if filt == 1 or y == 0:
                pred = (
                    int(a[y, x - 1]) if x else (int(a[y - 1, 0]) if y else 0)
                )
            elif filt == 2:
                pred = int(a[y - 1, x])
            else:
                if x == 0:
                    pred = int(a[y - 1, 0])
                else:
                    g = int(a[y, x - 1]) + int(a[y - 1, x]) - int(a[y - 1, x - 1])
                    pred = 0 if g < 0 else 255 if g > 255 else g
            out[y, x] = (int(a[y, x]) - pred) & 0xFF
    return out


def build_webp_vp8(px, *, q_index: int = 4, mode_of=None,
                   partitions: int = 1, alpha=None, alpha_filter: int = 0,
                   alpha_raw: bool = False, **enc_kwargs) -> bytes:
    """HxWx3 uint8 RGB → a REAL lossy WebP: BT.601 4:2:0 conversion +
    the in-repo VP8 keyframe encoder (operators/vp8.py), RIFF-wrapped.
    With `alpha` (an HxW uint8 plane) the container becomes
    VP8X + ALPH + VP8: the alpha plane is forward-filtered
    (`alpha_filter` 0..3) and carried raw (`alpha_raw`) or as a
    headerless VP8L image stream. Extra keyword args pass through to
    encode_vp8_keyframe (filter_level, segment_quants, ...). Streams
    decode bit-identically under parse_webp_pixels and the system
    libwebp (the pytest ground-truth gate)."""
    from .vp8 import encode_vp8_keyframe

    import numpy as np

    arr = np.asarray(px, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("vp8: encoder expects HxWx3 pixels")
    h, w = arr.shape[:2]
    y, u, v = _rgb_to_yuv420(arr)
    payload = encode_vp8_keyframe(
        y, u, v, q_index=q_index, mode_of=mode_of, partitions=partitions,
        **enc_kwargs,
    )
    vp8_chunk = _webp_chunk(b"VP8 ", payload)
    if alpha is None:
        return b"RIFF" + struct.pack("<I", 4 + len(vp8_chunk)) + b"WEBP" + vp8_chunk
    a = np.asarray(alpha, np.uint8)
    if a.shape != (h, w):
        raise ValueError("vp8: alpha plane must be HxW")
    filtered = _alph_forward_filter(a, alpha_filter)
    if alpha_raw:
        body = bytes([alpha_filter << 2]) + filtered.tobytes()
    else:
        bw = _Vp8lWriter()
        bw.put(0, 1)  # no transforms in the alpha image stream
        argb = [0xFF000000 | (int(vv) << 8) for vv in filtered.reshape(-1)]
        _vp8l_write_entropy_image(
            bw, argb, 0, is_level0=True, width=w,
        )
        body = bytes([1 | (alpha_filter << 2)]) + bw.bytes()
    alph_chunk = _webp_chunk(b"ALPH", body)
    vp8x = bytes([0x10, 0, 0, 0]) + struct.pack("<I", w - 1)[:3] + struct.pack(
        "<I", h - 1
    )[:3]
    vp8x_chunk = _webp_chunk(b"VP8X", vp8x)
    total = vp8x_chunk + alph_chunk + vp8_chunk
    return b"RIFF" + struct.pack("<I", 4 + len(total)) + b"WEBP" + total


def parse_webp_pixels(data: bytes):
    """WebP container → (w, h, HxWxC uint8 array): VP8L chunks decode
    in full (C = 4 when the header declares alpha, else 3); lossy
    VP8 chunks decode for real and COMPLETELY for stills
    (operators/vp8.py — 16x16 + B_PRED intra, segmentation, loop
    filter; only interframes refuse), with VP8X/ALPH alpha planes
    decoded and stacked as a 4th channel."""
    import numpy as np

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("webp: bad container magic")
    (riff_len,) = struct.unpack("<I", data[4:8])
    pos, end = 12, min(8 + riff_len, len(data))
    alph_body = None
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if fourcc == b"ALPH":
            if len(body) != clen:
                raise ValueError("webp: alph chunk truncated")
            alph_body = body
        elif fourcc == b"VP8L":
            if len(body) != clen:
                # r7 ADVICE: a truncated LOSSLESS file must say so —
                # falling through to the no-chunk error misdiagnosed it
                # as a lossy (VP8) payload
                raise ValueError("webp: vp8l chunk truncated")
            w, h, alpha, argb = parse_vp8l(body)
            arr = np.array(argb, dtype=np.uint32).reshape(h, w)
            chans = [
                (arr >> 16) & 0xFF,  # R
                (arr >> 8) & 0xFF,   # G
                arr & 0xFF,          # B
            ]
            if alpha:
                chans.append((arr >> 24) & 0xFF)
            return w, h, np.stack(chans, axis=-1).astype(np.uint8)
        if fourcc == b"VP8 ":
            if len(body) != clen:
                raise ValueError("webp: vp8 chunk truncated")
            from .vp8 import decode_vp8_frame

            if len(body) >= 10:
                # bomb guard BEFORE the decoder allocates MB rasters
                pw = (body[6] | (body[7] << 8)) & 0x3FFF
                ph = (body[8] | (body[9] << 8)) & 0x3FFF
                _check_raster_size(pw, ph, "VP8")
            w, h, Y, U, V = decode_vp8_frame(body)
            rgb = _yuv420_to_rgb(Y, U, V)
            if alph_body is not None:
                a = parse_alph(alph_body, w, h)
                return w, h, np.dstack([rgb, a])
            return w, h, rgb
        pos += 8 + clen + (clen % 2)
    raise ValueError("webp: no VP8L/VP8 image chunk")


def _vp8l_huffman_lengths(freqs: dict[int, int], cap: int) -> dict[int, int]:
    """frequencies → code lengths ≤ cap via standard Huffman; if the
    tree gets too deep, flatten frequencies and retry (fixture images
    are tiny — the retry loop converges immediately).

    r13 (guide §4.2, encoder hot spot): parent-pointer tree + a depth
    walk instead of merging symbol→depth DICTS at every heap pop (the
    dict merge made tree building O(n²) in allocated entries — 186k
    heappops per 400-doc plant profile). The heap keys (freq,
    insertion counter) and pop order are exactly the old ones, so the
    resulting lengths — and every planted bitstream — are unchanged
    (pinned by the old-vs-new fuzz in the batch ledger)."""
    import heapq

    if not freqs:
        raise ValueError("vp8l: empty histogram")
    if len(freqs) == 1:
        return {next(iter(freqs)): 1}
    f = dict(freqs)
    while True:
        syms = sorted(f)
        n = len(syms)
        # node ids 0..n-1 = leaves (in sorted-symbol order, matching
        # the old insertion counter), n.. = internal merge nodes
        parent = [0] * (2 * n - 1)
        heap = [(f[s], i) for i, s in enumerate(syms)]
        heapq.heapify(heap)
        nxt = n
        while len(heap) > 1:
            fa, ia = heapq.heappop(heap)
            fb, ib = heapq.heappop(heap)
            parent[ia] = nxt
            parent[ib] = nxt
            heapq.heappush(heap, (fa + fb, nxt))
            nxt += 1
        depth = [0] * (2 * n - 1)
        for node in range(nxt - 2, -1, -1):  # root (nxt-1) stays 0;
            depth[node] = depth[parent[node]] + 1  # children after parents
        lengths = {s: depth[i] for i, s in enumerate(syms)}
        if max(lengths.values()) <= cap:
            return lengths
        f = {s: (fr + 1) >> 1 for s, fr in f.items()}


def _vp8l_canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length), canonical assignment (must mirror
    _vp8l_canonical exactly)."""
    max_len = max(lengths.values())
    bl_count = [0] * (max_len + 1)
    for l in lengths.values():
        bl_count[l] += 1
    next_code = [0] * (max_len + 1)
    code = 0
    for l in range(1, max_len + 1):
        code = (code + bl_count[l - 1]) << 1
        next_code[l] = code
    out = {}
    for s in sorted(lengths):
        l = lengths[s]
        out[s] = (next_code[l], l)
        next_code[l] += 1
    return out


def _vp8l_rev_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol → (bit-REVERSED canonical code, length). Huffman codes
    transmit MSB-first while the writer is LSB-first; reversing once
    per table (r13, guide §4.2) replaces the per-emission bit loop in
    put_code — the encode hot spot at ~478k calls per 400-doc plant."""
    out = {}
    for s, (code, ln) in _vp8l_canonical_codes(lengths).items():
        v = 0
        for i in range(ln):
            v = (v << 1) | ((code >> i) & 1)
        out[s] = (v, ln)
    return out


def _vp8l_write_code(bw: _Vp8lWriter, freqs: dict[int, int], alphabet_size: int):
    """Emit one Huffman code definition; returns symbol →
    (bit-reversed code, len) ready for LSB-first `put` in the payload
    emission (reversal of the ≤1-bit simple codes is the identity).
    Simple codes when ≤ 2 used symbols all < 256; else a normal
    code-length-coded definition with zero-RLE."""
    used = sorted(freqs)
    if not used:
        used, freqs = [0], {0: 1}
    if len(used) <= 2 and used[-1] < 256:
        bw.put(1, 1)  # simple
        bw.put(len(used) - 1, 1)
        if used[0] < 2:
            bw.put(0, 1)
            bw.put(used[0], 1)
        else:
            bw.put(1, 1)
            bw.put(used[0], 8)
        if len(used) == 1:
            return {used[0]: (0, 0)}
        bw.put(used[1], 8)
        return {used[0]: (0, 1), used[1]: (1, 1)}
    bw.put(0, 1)  # normal
    lengths = _vp8l_huffman_lengths(freqs, 15)
    # code-length sequence with zero-RLE (17: 3-10 zeros, 18: 11-138)
    seq: list[tuple[int, int, int]] = []
    i = 0
    while i < alphabet_size:
        if lengths.get(i, 0) == 0:
            j = i
            while j < alphabet_size and lengths.get(j, 0) == 0:
                j += 1
            run = j - i
            while run >= 11:
                r = min(run, 138)
                seq.append((18, r - 11, 7))
                run -= r
            if run >= 3:
                seq.append((17, run - 3, 3))
                run = 0
            seq.extend((0, 0, 0) for _ in range(run))
            i = j
        else:
            seq.append((lengths[i], 0, 0))
            i += 1
    cl_freqs: dict[int, int] = {}
    for s, _, _ in seq:
        cl_freqs[s] = cl_freqs.get(s, 0) + 1
    cl_lengths = _vp8l_huffman_lengths(cl_freqs, 7)
    if len(cl_lengths) == 1:
        # pad to a complete 2-symbol code so decoder-side single-symbol
        # bit-consumption conventions never matter
        only = next(iter(cl_lengths))
        cl_lengths = {only: 1, (only + 1) % 16 if only != 15 else 14: 1}
    cl_codes = _vp8l_rev_codes(cl_lengths)
    bw.put(19 - 4, 4)  # num_code_lengths = 19: transmit all slots
    for sym in _VP8L_CL_ORDER:
        bw.put(cl_lengths.get(sym, 0), 3)
    bw.put(0, 1)  # no explicit max_symbol budget
    for s, extra, n_extra in seq:
        code, ln = cl_codes[s]
        # extra bits ride raw above the reversed code — one put
        bw.put(code | (extra << ln), ln + n_extra)
    return _vp8l_rev_codes(lengths)


def _vp8l_write_entropy_image(
    bw,
    flat: list,
    cache_bits: int,
    *,
    is_level0: bool,
    meta_bits: int = 0,
    width: int = 0,
    n_groups: int = 2,
    plane_codes: bool = False,
) -> None:
    """Write one VP8L entropy-coded image stream onto `bw`: color-cache
    flag(+bits), the meta-prefix flag (level-0 streams only — with
    `meta_bits` > 0 a prefix-group tile image is emitted as a recursive
    entropy sub-image whose green channel carries each tile's group
    index, cycling (bx + by) % n_groups, and every token is coded with
    the tree group of its STARTING pixel), one 5-tree group per meta
    code, and the token stream (literals, run-length LZ77 refs at
    direct distance 1, cache hits) — the exact mirror of
    `_vp8l_decode_entropy_image`. With `plane_codes` (r9, needs
    `width`) backreference distances use the spec's near-distance
    plane-code map where one applies — the dist-1 run becomes its
    smallest plane code AND an above-row matcher emits dist-width
    copies as the derived code for offset (0, 1)."""
    n = len(flat)
    pc_of: dict = {}
    if plane_codes:
        if not width:
            raise ValueError("vp8l: plane codes need the image width")
        # smallest code per distance wins (descending iteration lets
        # lower codes overwrite): decode is code→distance, so any code
        # mapping to the distance is valid — prefer the near one
        for code in range(120, 0, -1):
            pc_of[_vp8l_plane_dist(code, width)] = code

    def dist_token(dist: int):
        return _vp8l_prefix_code(pc_of.get(dist, dist + 120) if plane_codes else dist + 120)
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size
    # a slot counts as a hit only after a REAL insert — the zero-filled
    # initial cache would otherwise match an ARGB of 0x00000000 (which
    # predictor residual streams produce routinely) and could leave the
    # green histogram with a lone >255 cache symbol, unrepresentable as
    # a simple code
    seeded = [False] * cache_size
    shift = 32 - cache_bits if cache_bits else 0

    def slot(argb: int) -> int:
        return (_VP8L_HASH_MUL * argb & 0xFFFFFFFF) >> shift

    meta_w = 0
    meta_px: list = []
    group_of = None
    if meta_bits:
        if not is_level0:
            raise ValueError("vp8l: meta groups only on the level-0 stream")
        if not 2 <= meta_bits <= 9:
            raise ValueError("vp8l: meta size_bits out of range (2..9)")
        if not width:
            raise ValueError("vp8l: meta groups need the image width")
        meta_w = (width + (1 << meta_bits) - 1) >> meta_bits
        meta_h = (len(flat) // width + (1 << meta_bits) - 1) >> meta_bits
        meta_px = [
            0xFF000000 | (((bx + by) % n_groups) << 8)
            for by in range(meta_h)
            for bx in range(meta_w)
        ]
        # the DECODER sizes the group list from the tile raster's max
        # code, so the encoder must write exactly that many tree groups
        # (a single-tile image cycles to group 0 only)
        n_groups = max((px >> 8) & 0xFFFF for px in meta_px) + 1

        def group_of(p: int) -> int:
            bx = (p % width) >> meta_bits
            by = (p // width) >> meta_bits
            return (meta_px[by * meta_w + bx] >> 8) & 0xFFFF

    ng = n_groups if meta_bits else 1
    tokens = []
    gf = [dict() for _ in range(ng)]
    rf = [dict() for _ in range(ng)]
    bf = [dict() for _ in range(ng)]
    af = [dict() for _ in range(ng)]
    df_ = [dict() for _ in range(ng)]

    def bump(d: dict, k: int) -> None:
        d[k] = d.get(k, 0) + 1

    pos = 0
    while pos < n:
        gi = group_of(pos) if meta_bits else 0
        if pos > 0 and flat[pos] == flat[pos - 1]:
            run = 0
            while pos + run < n and flat[pos + run] == flat[pos - 1] and run < 4096:
                run += 1
            if run >= 3:
                code, extra, n_extra = _vp8l_prefix_code(run)
                dcode, dextra, dn = dist_token(1)
                tokens.append(("ref", gi, code, extra, n_extra, dcode, dextra, dn))
                bump(gf[gi], 256 + code)
                bump(df_[gi], dcode)
                if cache_size:
                    for i in range(run):
                        s = slot(flat[pos + i])
                        cache[s] = flat[pos + i]
                        seeded[s] = True
                pos += run
                continue
        if plane_codes and pos >= width and flat[pos] == flat[pos - width]:
            # above-row matcher: a vertical copy at distance `width`,
            # emitted as the derived plane code for offset (0, 1) — the
            # width-DEPENDENT plane code, so the interop matrix
            # exercises the map beyond the constant dist-1 entry
            run = 0
            while (
                pos + run < n
                and flat[pos + run] == flat[pos + run - width]
                and run < 4096
            ):
                run += 1
            if run >= 3:
                code, extra, n_extra = _vp8l_prefix_code(run)
                dcode, dextra, dn = dist_token(width)
                tokens.append(("ref", gi, code, extra, n_extra, dcode, dextra, dn))
                bump(gf[gi], 256 + code)
                bump(df_[gi], dcode)
                if cache_size:
                    for i in range(run):
                        s = slot(flat[pos + i])
                        cache[s] = flat[pos + i]
                        seeded[s] = True
                pos += run
                continue
        v = flat[pos]
        if cache_size and seeded[slot(v)] and cache[slot(v)] == v:
            idx = slot(v)
            tokens.append(("cache", gi, idx))
            bump(gf[gi], 280 + idx)
            pos += 1
            continue
        tokens.append(("lit", gi, v))
        bump(gf[gi], (v >> 8) & 0xFF)
        bump(rf[gi], (v >> 16) & 0xFF)
        bump(bf[gi], v & 0xFF)
        bump(af[gi], (v >> 24) & 0xFF)
        if cache_size:
            cache[slot(v)] = v
            seeded[slot(v)] = True
        pos += 1

    if cache_bits:
        bw.put(1, 1)
        bw.put(cache_bits, 4)
    else:
        bw.put(0, 1)
    if is_level0:
        if meta_bits:
            bw.put(1, 1)  # meta-huffman groups follow
            bw.put(meta_bits - 2, 3)
            _vp8l_write_entropy_image(bw, meta_px, 0, is_level0=False)
        else:
            bw.put(0, 1)  # no meta-huffman groups
    codes = []
    for gi in range(ng):
        codes.append(
            [
                _vp8l_write_code(bw, gf[gi], 256 + 24 + cache_size),
                _vp8l_write_code(bw, rf[gi], 256),
                _vp8l_write_code(bw, bf[gi], 256),
                _vp8l_write_code(bw, af[gi], 256),
                _vp8l_write_code(bw, df_[gi], 40),
            ]
        )
    # r13 (guide §4.2): codes arrive pre-reversed, so each token is ONE
    # LSB-first put — the four literal channel codes fuse into a single
    # (value, nbits) pair memoized per distinct ARGB (text rasters
    # repeat few colors), and a ref's length code + extra bits +
    # distance code + distance extras concatenate the same way the old
    # sequential put_code/put calls laid them out. Bitstreams are
    # byte-identical (old-vs-new fuzz in the batch ledger).
    lit_cache: list[dict] = [dict() for _ in range(ng)]
    for tok in tokens:
        gi = tok[1]
        gc, rc, bc, ac, dc = codes[gi]
        if tok[0] == "lit":
            v = tok[2]
            ent = lit_cache[gi].get(v)
            if ent is None:
                gv, gn = gc[(v >> 8) & 0xFF]
                rv, rn = rc[(v >> 16) & 0xFF]
                bv, bn = bc[v & 0xFF]
                av, an = ac[(v >> 24) & 0xFF]
                ent = (
                    gv | rv << gn | bv << (gn + rn) | av << (gn + rn + bn),
                    gn + rn + bn + an,
                )
                lit_cache[gi][v] = ent
            bw.put(*ent)
        elif tok[0] == "ref":
            _, _, code, extra, n_extra, dcode, dextra, dn = tok
            gv, gn = gc[256 + code]
            dv, dln = dc[dcode]
            sh = gn + n_extra
            acc = gv | extra << gn | dv << sh
            sh += dln
            bw.put(acc | dextra << sh, sh + dn)
        else:
            bw.put(*gc[280 + tok[2]])


def _vp8l_predictor_forward(
    argb: list, w: int, h: int, size_bits: int, mode_of
) -> tuple:
    """Forward predictor transform for the encoder: per-channel mod-256
    residuals of each pixel against its prediction, plus the tile
    raster whose green channel carries each block's mode (`mode_of(bx,
    by)` picks it). Predictions come from the ORIGINAL neighbor pixels
    — exactly the values the decoder has reconstructed when it reaches
    the same position, since mod-256 residual+prediction is lossless —
    through the same `_vp8l_predict_one` the inverse uses, with the
    same edge rules (see `_vp8l_predictor_inverse`)."""
    tile_w = (w + (1 << size_bits) - 1) >> size_bits
    tile_h = (h + (1 << size_bits) - 1) >> size_bits
    tiles = [
        0xFF000000 | ((mode_of(bx, by) & 0xFF) << 8)
        for by in range(tile_h)
        for bx in range(tile_w)
    ]

    def subpx(p: int, q: int) -> int:
        return (
            (((p >> 24) - (q >> 24)) & 0xFF) << 24
            | ((((p >> 16) & 0xFF) - ((q >> 16) & 0xFF)) & 0xFF) << 16
            | ((((p >> 8) & 0xFF) - ((q >> 8) & 0xFF)) & 0xFF) << 8
            | (((p & 0xFF) - (q & 0xFF)) & 0xFF)
        )

    res = [0] * (w * h)
    pos = 0
    for y in range(h):
        for x in range(w):
            if pos == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = argb[pos - 1]
            elif x == 0:
                pred = argb[pos - w]
            else:
                mode = (
                    tiles[(y >> size_bits) * tile_w + (x >> size_bits)] >> 8
                ) & 0xFF
                pred = _vp8l_predict_one(
                    mode,
                    argb[pos - 1],
                    argb[pos - w],
                    argb[pos - w - 1],
                    argb[pos - w + 1],
                )
            res[pos] = subpx(argb[pos], pred)
            pos += 1
    return res, tiles


def build_webp_lossless(
    px,
    *,
    cache_bits: int = 0,
    predictor_bits: int = 0,
    predictor_mode=None,
    color_bits: int = 0,
    color_cte=None,
    palette: bool = False,
    palette_order: str = "first",
    sub_green=None,
    meta_bits: int = 0,
    meta_groups: int = 2,
    plane_codes: bool = False,
) -> bytes:
    """HxWx3 uint8 pixels → a real lossless WebP (VP8L in RIFF):
    optional PREDICTOR transform (r8 — `predictor_bits` 2..9 sets the
    spec's size_bits; per-tile mode from `predictor_mode` if given,
    else cycling (bx + 2·by) % 14 so every mode appears), optional
    COLOR_TRANSFORM (r8 — `color_bits` 2..9; per-tile (green_to_red,
    green_to_blue, red_to_blue) from `color_cte` if given, else a
    deterministic per-tile cycle), SUBTRACT_GREEN (`sub_green`;
    default True without palette, False with — the legacy shapes),
    and COLOR_INDEXING (`palette=True`: ≤256 unique colors,
    delta-coded palette sub-image, LSB-first pixel bundling for ≤16
    colors), now COMPOSABLE with the others (r9, closing the last
    VP8L refusal): `palette_order="first"` reads color-indexing
    first, so the later transforms tile and transform the BUNDLED
    reduced-width index raster; `"last"` reads it last, so the
    palette maps the residual raster the earlier transforms produced
    (the residuals must themselves have ≤256 unique values — the
    caller picks inputs that palettize, e.g. a gradient under
    predictor mode 1). Optional color cache, run-length LZ77
    backreferences (distance 1, emitted as direct dist_code 121 — or,
    with `plane_codes` (r9), as derived near-distance plane codes plus
    an above-row dist-width matcher), and
    simple/normal Huffman codes as each tree's histogram warrants.
    Transforms are written in read order and applied forward in that
    same order (the decoder inverts in reverse), each against the
    running width in effect when its header is written. HxWx3 input
    keeps alpha constant 255 with alpha_is_used 0 (decoders surface 3
    channels, byte-stable legacy shapes); HxWx4 input (r9) carries
    the alpha channel losslessly with alpha_is_used 1 (decoders
    surface 4)."""
    import numpy as np

    arr = np.asarray(px, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] not in (3, 4):
        raise ValueError("vp8l: encoder expects HxWx3 or HxWx4 pixels")
    has_alpha = arr.shape[2] == 4
    h, w, _ = arr.shape
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("webp: dims exceed 14-bit field")
    if not 0 <= cache_bits <= 11:
        raise ValueError("vp8l: color-cache bits out of range")
    if predictor_bits and not 2 <= predictor_bits <= 9:
        raise ValueError("vp8l: predictor size_bits out of range (2..9)")
    if color_bits and not 2 <= color_bits <= 9:
        raise ValueError("vp8l: color-transform size_bits out of range (2..9)")
    if palette_order not in ("first", "last"):
        raise ValueError("vp8l: palette_order must be 'first' or 'last'")
    sg = (not palette) if sub_green is None else bool(sub_green)
    r = arr[:, :, 0].astype(np.int64)
    g = arr[:, :, 1].astype(np.int64)
    b = arr[:, :, 2].astype(np.int64)
    a = (
        arr[:, :, 3].astype(np.int64)
        if has_alpha
        else np.full((h, w), 0xFF, np.int64)
    )
    flat = ((a << 24) | (r << 16) | (g << 8) | b).flatten().tolist()

    bw = _Vp8lWriter()
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    # alpha_is_used: decoders surface a 4th channel exactly when set
    bw.put(1 if has_alpha else 0, 1)
    bw.put(0, 3)  # version

    def apply_palette(cur, cw):
        """Write the COLOR_INDEXING header + delta-coded palette
        sub-image for the current raster; return (bundled raster,
        reduced width). The palette is over whatever values the
        pipeline holds here — raw pixels (palette-first) or transform
        residuals (palette-last)."""
        pal = sorted(set(cur))
        if len(pal) > 256:
            raise ValueError("vp8l: palette needs <= 256 unique colors")
        index_of = {c: i for i, c in enumerate(pal)}
        psize = len(pal)
        width_bits = (
            3 if psize <= 2 else 2 if psize <= 4 else 1 if psize <= 16 else 0
        )
        per = 1 << width_bits
        bits = 8 >> width_bits
        w_coded = (cw + per - 1) >> width_bits
        coded = [0] * (w_coded * h)
        for y in range(h):
            for x in range(cw):
                idx = index_of[cur[y * cw + x]]
                coded[y * w_coded + (x >> width_bits)] |= idx << ((x % per) * bits)
        coded = [0xFF000000 | (v << 8) for v in coded]
        # delta-code the palette (each entry stores the per-channel
        # mod-256 difference from its predecessor)
        deltas, prev = [], 0
        for c in pal:
            deltas.append(
                ((((c >> 24) - (prev >> 24)) & 0xFF) << 24)
                | (((((c >> 16) & 0xFF) - ((prev >> 16) & 0xFF)) & 0xFF) << 16)
                | (((((c >> 8) & 0xFF) - ((prev >> 8) & 0xFF)) & 0xFF) << 8)
                | (((c & 0xFF) - (prev & 0xFF)) & 0xFF)
            )
            prev = c
        bw.put(1, 1)  # a transform follows
        bw.put(3, 2)  # COLOR_INDEXING
        bw.put(psize - 1, 8)
        _vp8l_write_entropy_image(bw, deltas, 0, is_level0=False)
        return coded, w_coded

    def apply_predictor(cur, cw):
        if predictor_mode is not None and not 0 <= predictor_mode <= 13:
            raise ValueError("vp8l: predictor mode out of range")
        mode_of = (
            (lambda bx, by: predictor_mode)
            if predictor_mode is not None
            else (lambda bx, by: (bx + 2 * by) % 14)
        )
        cur, tiles = _vp8l_predictor_forward(cur, cw, h, predictor_bits, mode_of)
        bw.put(1, 1)  # a transform follows
        bw.put(0, 2)  # PREDICTOR
        bw.put(predictor_bits - 2, 3)
        # the tile sub-image stream follows its parameters immediately
        # (spec §4/§5), BEFORE the next more-transforms bit
        _vp8l_write_entropy_image(bw, tiles, 0, is_level0=False)
        return cur

    def apply_color(cur, cw):
        if color_cte is not None:
            gtr0, gtb0, rtb0 = (int(v) & 0xFF for v in color_cte)
            cte_of = lambda bx, by: (gtr0, gtb0, rtb0)  # noqa: E731
        else:
            cte_of = lambda bx, by: (  # noqa: E731
                (17 * (bx + 3 * by) + 5) % 256,
                (29 * bx + 11 * by + 100) % 256,
                (43 * bx + 7 * by + 200) % 256,
            )
        tile_w = (cw + (1 << color_bits) - 1) >> color_bits
        tile_h = (h + (1 << color_bits) - 1) >> color_bits
        ct_tiles = []
        for by in range(tile_h):
            for bx in range(tile_w):
                gtr, gtb, rtb = cte_of(bx, by)
                ct_tiles.append(0xFF000000 | (rtb << 16) | (gtb << 8) | gtr)
        out2 = [0] * (cw * h)
        for y in range(h):
            trow = (y >> color_bits) * tile_w
            for x in range(cw):
                cte = ct_tiles[trow + (x >> color_bits)]
                v = cur[y * cw + x]
                gg = (v >> 8) & 0xFF
                rr = (v >> 16) & 0xFF
                bb = v & 0xFF
                # forward: subtract the deltas the inverse adds; the
                # red_to_blue delta uses the ORIGINAL red, which the
                # decoder has reconstructed before it touches blue
                nr = (rr - _vp8l_ct_delta(cte & 0xFF, gg)) & 0xFF
                nb = (
                    bb
                    - _vp8l_ct_delta((cte >> 8) & 0xFF, gg)
                    - _vp8l_ct_delta((cte >> 16) & 0xFF, rr)
                ) & 0xFF
                out2[y * cw + x] = (v & 0xFF00FF00) | (nr << 16) | nb
        bw.put(1, 1)  # a transform follows
        bw.put(1, 2)  # COLOR_TRANSFORM
        bw.put(color_bits - 2, 3)
        _vp8l_write_entropy_image(bw, ct_tiles, 0, is_level0=False)
        return out2

    def apply_subgreen(cur):
        # subtract-green ON THE RESIDUALS (see docstring for the ordering)
        cur = [
            (v & 0xFF00FF00)
            | (((((v >> 16) & 0xFF) - ((v >> 8) & 0xFF)) & 0xFF) << 16)
            | (((v & 0xFF) - ((v >> 8) & 0xFF)) & 0xFF)
            for v in cur
        ]
        bw.put(1, 1)  # a transform follows
        bw.put(2, 2)  # SUBTRACT_GREEN
        return cur

    # transforms applied FORWARD in read order against the running
    # width; the decoder inverts in reverse-read order, each inverse
    # at its recorded read-time width
    cur, cw = flat, w
    if palette and palette_order == "first":
        cur, cw = apply_palette(cur, cw)
    if predictor_bits:
        cur = apply_predictor(cur, cw)
    if color_bits:
        cur = apply_color(cur, cw)
    if sg:
        cur = apply_subgreen(cur)
    if palette and palette_order == "last":
        cur, cw = apply_palette(cur, cw)
    bw.put(0, 1)  # no more transforms
    # meta groups tile the CODED (possibly bundled-width) raster — the
    # same dimensions the decoder's group lookup runs against
    _vp8l_write_entropy_image(
        bw, cur, cache_bits, is_level0=True,
        meta_bits=meta_bits, width=cw, n_groups=meta_groups,
        plane_codes=plane_codes,
    )
    body = bytes([WEBP_VP8L_SIG]) + bw.bytes()
    chunk = _webp_chunk(b"VP8L", body)
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def plant_webp_lossless_payloads(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, payload): a REAL lossless WebP per
    document with closed-form dims (w = id%31+4, h = id%21+4) whose
    pixels tile the UTF-8 text bytes (the QOI/GIF convention — natural
    text produces runs for the LZ77 layer, repeats for the color
    cache, and enough variety for normal Huffman codes). The color
    cache toggles by parity (even ids: 6-bit cache) and — r8, r7
    VERDICT #3 — the spec §4 TRANSFORM rotates by id%5: 0 = none,
    1 = predictor with 4x4 tiles and the mode-cycling default (every
    §4.2 mode appears across the corpus), 2 = predictor with 8x8 tiles
    and the single fixed mode id%14, 3 = color transform with 4x4
    tiles and the cycling cte, 4 = color indexing (bytes masked to
    &192 before tiling so the raster has ≤64 unique colors; the oracle
    mirrors the mask), with odd plain-variant ids additionally
    carrying META-PREFIX GROUPS — so the driver gate covers the whole
    transform family, spatial tree switching, and both cache layouts —
    and ids %3 == 0 encoding their backreferences as derived
    near-distance PLANE CODES (r9; cuts across every transform arm and
    both parities). The palette arm additionally COMBINES
    color-indexing with other transforms (r9, the closed last
    refusal): ids %5 == 4 layer subtract-green on the bundled raster
    when id%2 == 1, and a 4x4-tile predictor over the bundled raster
    when id%10 == 4 — the decoded pixels, and so the oracle, are
    representation-invariant. Low-diversity docs can land under
    the ≤16-color bundling threshold — the decoder handles every
    bundling width (pytest interop matrix) and px_sum stays the plain
    masked-tiled-byte formula regardless of packing."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text_val in zip(pdf["doc_id"], pdf[text_col]):
                d = int(doc_id)
                w, h = d % 31 + 4, d % 21 + 4
                raw = (text_val or "").encode("utf-8") or b"\0"
                buf = np.frombuffer(raw, np.uint8)
                if d % 8 == 5:
                    # r9 LOSSY arm: a real VP8 keyframe + ALPH alpha.
                    # Uniform-130 RGB is EXACTLY reconstructible
                    # (Y=U=V=128 -> every MB skips -> BT.601 inverse
                    # rounds back to 130), and the alpha plane is
                    # lossless by construction — so px_sum stays
                    # closed-form: 130*3*w*h + the tiled raw text-byte
                    # sum. The filter rotates (d>>3)%4 and ids %16==13
                    # carry the alpha RAW instead of VP8L-coded.
                    rgb = np.full((h, w, 3), 130, np.uint8)
                    alpha = np.resize(buf, (h, w))
                    out.append(
                        (doc_id,
                         build_webp_vp8(
                             rgb, q_index=4, alpha=alpha,
                             alpha_filter=(d >> 3) % 4,
                             alpha_raw=d % 16 == 13,
                         ))
                    )
                    continue
                kw = (
                    # plain — but ODD plain ids carry meta-prefix
                    # groups (r8: spatial tree switching; px_sum is
                    # coding-agnostic so the oracle is unchanged)
                    {"meta_bits": 2} if d % 2 == 1 else {},
                    {"predictor_bits": 2},
                    {"predictor_bits": 3, "predictor_mode": d % 14},
                    {"color_bits": 2},
                    # r9: the palette arm also exercises the combined
                    # forms — subtract-green over the bundled raster
                    # for odd ids, a predictor stacked on the bundled
                    # raster for ids %10 == 4
                    {"palette": True, "sub_green": d % 2 == 1,
                     **({"predictor_bits": 2} if d % 10 == 4 else {})},
                )[d % 5]
                if kw.get("palette"):
                    buf = buf & 0xC0  # ≤4 values/channel → ≤64 colors
                px = np.resize(buf, (h, w, 3))
                out.append(
                    (doc_id,
                     build_webp_lossless(
                         px, cache_bits=6 if d % 2 == 0 else 0,
                         # r9: every third id encodes backreferences
                         # with derived near-distance plane codes (the
                         # decoded pixels — and so the oracle — are
                         # representation-invariant)
                         plane_codes=(d % 3 == 0), **kw
                     ))
                )
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    return _planted(df, run, "doc_id long, payload binary")
