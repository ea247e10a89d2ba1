"""Non-ASCII byte-semantics parity for the multimodal stages.

The engine measures UTF-8 BYTES of the payload (len(data), sum(data),
md5(bytes)); the DuckDB oracles are written in byte terms
(octet_length(encode(..)), hex-pair sums). This test feeds non-ASCII
documents through both and asserts exact agreement — the divergence
the character-semantics oracles would have hidden (documents testdata
is ASCII-only, so the gate alone cannot catch it)."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

DOCS = [
    (1, "plain ascii only"),
    (2, "héllo wörld — naïve café"),
    (3, "日本語のテキスト 世界"),
    (4, "emoji 🚀🔥 and mixed ascii"),
    (5, "кириллица текст"),
]


def _oracle(sql: str) -> list[tuple]:
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    return sorted(con.execute(sql).fetchall())


def test_decode_images_nonascii_matches_oracle(spark):
    from sparkga1_spark.operators.multimodal import decode_images
    from sparkga1_spark.plans.registry import all_oracles

    df = spark.createDataFrame(DOCS, "doc_id long, text string").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    got = sorted(tuple(r) for r in decode_images(df).collect())
    want = _oracle(all_oracles()["x_multimodal_decode"])
    assert got == want


def test_audio_features_nonascii_matches_oracle(spark):
    from sparkga1_spark.operators.multimodal import audio_features
    from sparkga1_spark.plans.registry import all_oracles

    df = spark.createDataFrame(DOCS, "doc_id long, text string").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    got = sorted(tuple(r) for r in audio_features(df).collect())
    want = _oracle(all_oracles()["x_multimodal_audio_features"])
    assert got == want


def test_frame_sample_nonascii_matches_oracle(spark):
    from sparkga1_spark.operators.multimodal import sample_frames
    from sparkga1_spark.plans.registry import all_oracles

    df = spark.createDataFrame(DOCS, "doc_id long, text string").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    got = sorted(tuple(r) for r in sample_frames(df).collect())
    want = _oracle(all_oracles()["x_multimodal_framesample"])
    assert got == want


def test_resize_images_real_interpolation(spark):
    """resize_images: stubbed decode, REAL bilinear math. Properties a
    fake resize cannot satisfy: constant image stays constant, a
    horizontal gradient stays monotone per row, output buffer has
    exactly width*height*channels bytes, and the op is deterministic."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        _bilinear_resize,
        resize_images,
    )

    # pure-math unit checks first
    const = np.full((5, 7, 3), 201, np.uint8)
    assert (_bilinear_resize(const, 11, 4) == 201).all()
    grad = np.tile(np.arange(0, 250, 10, dtype=np.uint8)[None, :, None], (3, 1, 1))
    out = _bilinear_resize(grad, 3, 50).astype(int)
    assert (np.diff(out[0, :, 0]) >= 0).all()  # monotone preserved
    assert out.shape == (3, 50, 1)
    # identity resize is exact with half-pixel centers
    rng_img = np.resize(np.arange(97, dtype=np.uint8), (6, 5, 2))
    assert (_bilinear_resize(rng_img, 6, 5) == rng_img).all()

    df = spark.createDataFrame(DOCS, "doc_id long, text string").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    a = {r.doc_id: r for r in resize_images(df, width=16, height=12).collect()}
    b = {r.doc_id: r for r in resize_images(df, width=16, height=12).collect()}
    assert len(a) == len(DOCS)
    for doc_id, row in a.items():
        assert len(bytes(row.data)) == 16 * 12 * row.channels
        assert bytes(row.data) == bytes(b[doc_id].data)  # deterministic
        assert row.px_checksum == sum(bytes(row.data))


def test_bmp_roundtrip_exact():
    """build_bmp → parse_bmp is pixel-exact for odd widths (row padding)
    and both row orders — REAL container parsing, no codec library."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        _decode_image_meta,
        build_bmp,
        parse_bmp,
    )

    for w, h in [(1, 1), (3, 2), (5, 7), (64, 48), (61, 37)]:
        px = np.resize(np.arange(w * h * 3, dtype=np.uint8), (h, w, 3))
        data = build_bmp(px)
        assert data[:2] == b"BM"
        stride = (w * 3 + 3) // 4 * 4
        assert len(data) == 54 + stride * h  # padded rows, exact size
        pw, ph, out = parse_bmp(data)
        assert (pw, ph) == (w, h)
        assert (out == px).all()
        assert _decode_image_meta(data) == (w, h, 3, "BMP")
    # top-down variant (negative height) parses to the same pixels
    import struct

    px = np.resize(np.arange(60, dtype=np.uint8), (4, 5, 3))
    data = bytearray(build_bmp(px))
    # flip to top-down: negate height, reverse padded rows
    stride = (5 * 3 + 3) // 4 * 4
    data[22:26] = struct.pack("<i", -4)
    body = bytes(data[54:])
    rows = [body[i * stride : (i + 1) * stride] for i in range(4)]
    data[54:] = b"".join(reversed(rows))
    _, _, out = parse_bmp(bytes(data))
    assert (out == px).all()


def test_ppm_roundtrip_exact():
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        _decode_image_meta,
        build_ppm,
        parse_ppm,
    )

    px = np.resize(np.arange(210, dtype=np.uint8), (10, 7, 3))
    data = build_ppm(px)
    w, h, out = parse_ppm(data)
    assert (w, h) == (7, 10) and (out == px).all()
    assert _decode_image_meta(data) == (7, 10, 3, "PPM")


def test_wav_roundtrip_exact_and_fallback():
    import numpy as np

    from sparkga1_spark.operators.multimodal import build_wav, parse_wav

    samples = ((np.arange(777, dtype=np.int64) * 7919) % 1001 - 500).astype("<i2")
    data = build_wav(samples, sample_rate=8000)
    n, rate, got = parse_wav(data)
    assert (n, rate) == (777, 8000)
    assert (got == samples).all()
    # non-WAV bytes fall back to byte statistics, never crash
    import pytest

    with pytest.raises(ValueError):
        parse_wav(b"definitely not audio")


def test_bmp_decode_real_branch_in_pipeline(spark):
    """The planted-BMP fixture path exercises the REAL parser inside the
    Arrow-batched decode stage: metadata matches the closed form and the
    pixel decode feeds the real bilinear resize."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        decode_images,
        plant_bmp_payloads,
        resize_images,
    )

    df = spark.createDataFrame(
        [(i, f"document body {i}") for i in range(1, 9)], "doc_id long, text string"
    )
    planted = plant_bmp_payloads(df)
    meta = {r.doc_id: r for r in decode_images(planted).collect()}
    for i in range(1, 9):
        assert meta[i].format == "BMP"
        assert meta[i].width == i % 61 + 4
        assert meta[i].height == i % 37 + 4
        assert meta[i].channels == 3
    resized = resize_images(planted, width=8, height=6).collect()
    assert all(len(bytes(r.data)) == 8 * 6 * 3 for r in resized)


def test_y4m_roundtrip_exact():
    """build_y4m → parse_y4m recovers every luma plane exactly; frame
    headers with parameters and odd frame counts parse; truncated or
    non-Y4M input raises."""
    import numpy as np
    import pytest

    from sparkga1_spark.operators.multimodal import build_y4m, parse_y4m

    frames = [
        np.resize(np.arange(f * 7, f * 7 + 48, dtype=np.uint8), (6, 8))
        for f in range(5)
    ]
    data = build_y4m(frames, fps=25)
    w, h, fps, got = parse_y4m(data)
    assert (w, h, fps) == (8, 6, 25)
    assert len(got) == 5
    for a, b in zip(frames, got):
        assert (a == b).all()
    # frame-level parameters after FRAME are skipped per spec
    patched = data.replace(b"FRAME\n", b"FRAME Xcustom\n", 1)
    assert (parse_y4m(patched)[3][0] == frames[0]).all()
    with pytest.raises(ValueError):
        parse_y4m(b"MPEG4 not this one")


def test_png_roundtrip_all_filters():
    """build_png → parse_png must reconstruct pixels exactly for every
    scanline filter (None/Sub/Up/Average/Paeth), mixed per-row filters,
    and 1-pixel-wide edge shapes; a corrupted chunk CRC must be
    rejected. Pure public-format math — stdlib zlib, no codec lib."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_png,
        parse_png,
        parse_png_meta,
    )

    rng = np.random.RandomState(20260813)
    shapes = [(1, 1), (1, 7), (9, 1), (5, 5), (17, 23)]
    for h, w in shapes:
        px = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        for f in [0, 1, 2, 3, 4, [(r * 3 + 1) % 5 for r in range(h)]]:
            data = build_png(px, filters=f)
            w2, h2, px2 = parse_png(data)
            assert (w2, h2) == (w, h) and (px2 == px).all(), (h, w, f)
            assert parse_png_meta(data) == (w, h, 3)

    data = bytearray(build_png(px))
    data[len(data) // 2] ^= 0xFF  # flip a byte inside IDAT
    try:
        parse_png(bytes(data))
        raise AssertionError("corrupt PNG accepted")
    except ValueError:
        pass


def test_png_adam7_interlace_roundtrip_and_layout_equality():
    """Adam7: (a) build_png(interlace=True) → parse_png reconstructs
    pixels exactly across shapes that exercise empty passes (any dim
    < 8 skips some of the seven), every filter, and cycling filter
    lists; (b) the decoded raster of an interlaced stream equals the
    decoded raster of the sequential stream of the SAME pixels — two
    independent layouts agreeing on every byte; (c) each pass's
    filtering is pass-local (a Paeth row in pass 7 must predict from
    pass-7 neighbors, not raster neighbors — wrong locality breaks
    exactness on any non-constant image); (d) truncating the IDAT
    raster by one pass surfaces as ValueError, not a crash."""
    import numpy as np
    import struct
    import zlib

    from sparkga1_spark.operators.multimodal import (
        build_png,
        parse_png,
        parse_png_meta,
    )

    # spec conformance first: round-trip is blind to a wrong-but-
    # bijective pass table (encoder and decoder share it), so pin the
    # canonical 8x8 pass-number matrix from PNG spec §8.2 verbatim
    from sparkga1_spark.operators.multimodal import ADAM7

    grid = np.zeros((8, 8), int)
    for p, (x0, y0, dx, dy) in enumerate(ADAM7, start=1):
        assert (grid[y0::dy, x0::dx] == 0).all(), f"pass {p} overlaps"
        grid[y0::dy, x0::dx] = p
    spec = np.array(
        [
            [1, 6, 4, 6, 2, 6, 4, 6],
            [7, 7, 7, 7, 7, 7, 7, 7],
            [5, 6, 5, 6, 5, 6, 5, 6],
            [7, 7, 7, 7, 7, 7, 7, 7],
            [3, 6, 4, 6, 3, 6, 4, 6],
            [7, 7, 7, 7, 7, 7, 7, 7],
            [5, 6, 5, 6, 5, 6, 5, 6],
            [7, 7, 7, 7, 7, 7, 7, 7],
        ]
    )
    assert (grid == spec).all(), "ADAM7 pass grid deviates from PNG §8.2"

    rng = np.random.RandomState(20260814)
    shapes = [(1, 1), (1, 7), (9, 1), (5, 5), (8, 8), (17, 23), (33, 12)]
    for h, w in shapes:
        px = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        for f in [0, 1, 2, 3, 4, [(r * 3 + 1) % 5 for r in range(h)]]:
            inter = build_png(px, filters=f, interlace=True)
            w2, h2, px2 = parse_png(inter)
            assert (w2, h2) == (w, h) and (px2 == px).all(), (h, w, f)
            assert parse_png_meta(inter) == (w, h, 3)
            seq = build_png(px, filters=f, interlace=False)
            assert (parse_png(seq)[2] == px2).all(), (h, w, f)

    # truncated interlaced raster: rebuild IDAT with one pass missing
    px = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    good = build_png(px, filters=4, interlace=True)
    # drop the final pass (16x16: pass 7 is 8 rows x 16 px => 8*49 bytes)
    full = zlib.decompress(
        good[good.find(b"IDAT") + 4 : good.rfind(b"IEND") - 8]
    )
    short = zlib.compress(full[: len(full) - 8 * (16 * 3 + 1)])

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    sig_ihdr = good[: good.find(b"IDAT") - 4]
    bad = sig_ihdr + chunk(b"IDAT", short) + chunk(b"IEND", b"")
    try:
        parse_png(bad)
        raise AssertionError("pass-truncated interlaced PNG accepted")
    except ValueError:
        pass


def test_png_decode_dispatch_real_not_fake():
    """_decode_image_meta and _decode_image_pixels must route PNG
    payloads through the real parser (format 'PNG', exact pixels), not
    the md5 FAKE branch."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        _decode_image_meta,
        _decode_image_pixels,
        build_png,
    )

    px = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
    data = build_png(px, filters=4)
    assert _decode_image_meta(data) == (5, 4, 3, "PNG")
    assert (_decode_image_pixels(data) == px).all()


def test_jpeg_header_roundtrip_and_marker_walk():
    """build_jpeg → parse_jpeg_meta recovers the SOF0 geometry for a
    spread of dimensions and entropy sizes; the walk must survive fill
    bytes and reject truncated/SOF-less streams."""
    from sparkga1_spark.operators.multimodal import build_jpeg, parse_jpeg_meta

    for w, h, n in [(4, 4, 0), (53, 43, 16), (65535, 1, 112), (640, 480, 7)]:
        data = build_jpeg(w, h, bytes(range(n)))
        assert parse_jpeg_meta(data) == (w, h, 3), (w, h, n)
        assert len(data) == 146 + n

    # fill bytes (0xFF padding) between segments are legal
    data = build_jpeg(8, 9, b"xyz")
    padded = data[:2] + b"\xff" + data[2:]
    assert parse_jpeg_meta(padded) == (8, 9, 3)

    # Malformed/truncated streams must raise ValueError (never
    # struct.error — _decode_image_meta catches only ValueError, so a
    # struct.error would kill the mapInPandas task instead of falling
    # through to the documented fallback branch).
    good = build_jpeg(8, 9, b"xyz")
    for bad in [
        b"",
        b"\xff\xd8",
        b"\xff\xd8\xff\xd9",
        b"notajpeg",
        b"\xff\xd8\xff\xc0\x00\x11\x08",  # SOF0 declared, payload cut
        b"\xff\xd8\xff\xc0\x00\x11",  # length says 17, buffer ends
        good[: len(good) // 2],  # truncated mid-segment, before SOF
    ]:
        try:
            parse_jpeg_meta(bad)
            raise AssertionError(f"accepted {bad!r}")
        except ValueError:
            pass


def test_jpeg_decode_dispatch_real_not_fake():
    """_decode_image_meta must route JPEG payloads through the real
    marker walk (format 'JPEG'), not the md5 FAKE branch."""
    from sparkga1_spark.operators.multimodal import _decode_image_meta, build_jpeg

    data = build_jpeg(21, 13, b"entropy-bytes")
    assert _decode_image_meta(data) == (21, 13, 3, "JPEG")


def test_ppm_whitespace_leading_raster_bytes():
    """Review-caught: split(None, 3) ate leading whitespace-valued
    raster bytes (0x09/0x0a/0x20 pixels), misaligning the frame or
    raising IndexError on an all-whitespace raster. The anchored
    header match must decode both exactly."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import build_ppm, parse_ppm

    px = np.zeros((2, 2, 3), np.uint8)
    px[0, 0, 0] = 10  # first raster byte is '\n'
    w, h, got = parse_ppm(build_ppm(px))
    assert (w, h) == (2, 2) and (got == px).all()

    allws = np.full((2, 2, 3), 32, np.uint8)  # every byte is ' '
    w, h, got = parse_ppm(build_ppm(allws))
    assert (got == allws).all()


def test_truncated_containers_raise_valueerror_not_struct_error():
    """Review-caught: truncated PNG chunks / short IHDR / zero-channel
    WAV raised struct.error or ZeroDivisionError, escaping the
    ValueError-only fallback and killing the task. All must raise
    ValueError now."""
    import struct

    import numpy as np
    import pytest as _pytest

    from sparkga1_spark.operators.multimodal import (
        PNG_SIG,
        build_png,
        build_wav,
        parse_png,
        parse_png_meta,
        parse_wav,
    )

    with _pytest.raises(ValueError):
        parse_png_meta(PNG_SIG + b"\x00\x00\x00\x0dIHDR")  # 16 bytes
    good = build_png(np.zeros((2, 2, 3), np.uint8))
    with _pytest.raises(ValueError):
        parse_png(good[: len(good) // 2])  # cut mid-IDAT chunk
    wav = bytearray(build_wav(np.zeros(4, np.int16), sample_rate=8000))
    struct.pack_into("<H", wav, 22, 0)  # declare channels = 0
    with _pytest.raises(ValueError):
        parse_wav(bytes(wav))


def test_qoi_roundtrip_all_ops():
    """build_qoi → parse_qoi must reconstruct pixels exactly across
    inputs engineered to hit every spec op — >62-pixel runs (run
    flush), recurring colors (INDEX), ±1 gradients (DIFF), mid-size
    deltas (LUMA), and random literals (RGB) — plus 1-pixel edge
    shapes. Truncated streams and a broken end marker must raise
    ValueError. Pure public-domain-spec math (qoiformat.org)."""
    import numpy as np
    import pytest as _pytest

    from sparkga1_spark.operators.multimodal import (
        build_qoi,
        parse_qoi,
        parse_qoi_meta,
    )

    rng = np.random.RandomState(20260814)
    cases = [
        np.zeros((1, 1, 3), np.uint8),
        np.full((9, 11, 3), 77, np.uint8),  # one long run
        rng.randint(0, 256, (17, 23, 3)).astype(np.uint8),  # literals
        (rng.randint(0, 3, (16, 16, 3)).cumsum(axis=1) % 256).astype(np.uint8),
        np.resize(np.frombuffer(b"text bytes tile  common", np.uint8), (28, 40, 3)),
        np.tile(np.array([[10, 20, 30], [12, 22, 32]], np.uint8), (50, 1, 1)),
    ]
    for px in cases:
        data = build_qoi(px)
        w, h, out = parse_qoi(data)
        assert (w, h) == (px.shape[1], px.shape[0])
        assert (out == px).all()
        assert parse_qoi_meta(data) == (w, h, 3)

    good = build_qoi(cases[2])
    with _pytest.raises(ValueError):
        parse_qoi(good[: len(good) // 2])
    with _pytest.raises(ValueError):
        parse_qoi(good[:-1] + b"\x02")  # bad end marker
    with _pytest.raises(ValueError):
        parse_qoi_meta(b"qoif" + b"\x00" * 4)  # truncated header


def test_qoi_decode_dispatch_real_not_fake():
    """_decode_image_meta / _decode_image_pixels must route QOI
    payloads through the real parser (format 'QOI', exact pixels), not
    the md5 FAKE branch — including non-ASCII payload bytes (the
    bytes-safety axis the ASCII gate fixture cannot cover)."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        _decode_image_meta,
        _decode_image_pixels,
        build_qoi,
    )

    raw = "héllo wörld 日本語 🚀".encode("utf-8")
    px = np.resize(np.frombuffer(raw, np.uint8), (6, 7, 3))
    data = build_qoi(px)
    assert _decode_image_meta(data) == (7, 6, 3, "QOI")
    assert (_decode_image_pixels(data) == px).all()


def test_qoi_spec_corners():
    """QOI op-level corners: zero-init index collision handling (first
    black pixel is a RUN of prev, not an INDEX), LUMA boundary deltas
    (dg=-32, dr-dg=+7, db-dg=-8), wrap-around DIFF (255→0 is dr=+1),
    and 4-channel RGBA streams decoding with alpha carried."""
    import struct

    import numpy as np

    from sparkga1_spark.operators.multimodal import build_qoi, parse_qoi

    px = np.zeros((1, 3, 3), np.uint8)
    data = build_qoi(px)
    assert data[14:-8] == bytes([0xC0 | 2])  # one 3-pixel run

    prev = np.array([[100, 100, 100]], np.uint8)
    nxt = np.array([[100 - 32 + 7, 100 - 32, 100 - 32 - 8]], np.uint8)
    arr = np.vstack([prev, nxt]).reshape(2, 1, 3)
    assert np.array_equal(parse_qoi(build_qoi(arr))[2], arr)

    arr = np.array([[[255, 0, 128]], [[0, 255, 127]]], np.uint8)
    assert np.array_equal(parse_qoi(build_qoi(arr))[2], arr)

    hdr = b"qoif" + struct.pack(">IIBB", 2, 1, 4, 0)
    stream = bytes([0xFF, 10, 20, 30, 200]) + bytes(
        [0x40 | (3 << 4) | (2 << 2) | 1]
    )
    w, h, out = parse_qoi(hdr + stream + b"\x00" * 7 + b"\x01")
    assert out.shape == (1, 2, 4)
    assert tuple(out[0, 0]) == (10, 20, 30, 200)
    assert tuple(out[0, 1]) == (11, 20, 29, 200)


def test_qoi_spec_interop_reference_decoder():
    """Spec interoperability (review-caught index-init bug): decode
    every fixture-shaped payload with an independent STRICT reference
    decoder written straight from the qoiformat.org spec (zero-init
    index, opaque-black previous pixel) and require exact pixel
    equality — an encoder that leans on a nonstandard index init emits
    INDEX ops into slots a compliant decoder never wrote. Also pins
    that black-after-color is NOT emitted as an INDEX into the unwritten
    hash-53 slot, and that operand truncation raises."""
    import numpy as np
    import pytest as _pytest

    from sparkga1_spark.operators.multimodal import build_qoi, parse_qoi

    def reference_decode(data):  # independent, spec-literal
        import struct

        assert data[:4] == b"qoif"
        w, h, ch, _ = struct.unpack_from(">IIBB", data, 4)
        idx = [(0, 0, 0, 0)] * 64
        px = (0, 0, 0, 255)
        out, pos = [], 14
        while len(out) < w * h:
            t = data[pos]
            pos += 1
            if t == 0xFE:
                px = (data[pos], data[pos + 1], data[pos + 2], px[3])
                pos += 3
            elif t == 0xFF:
                px = tuple(data[pos : pos + 4])
                pos += 4
            elif t >> 6 == 0:
                px = idx[t]
                out.append(px)
                continue  # spec: decoder indexes px after every op; same slot
            elif t >> 6 == 1:
                px = (
                    (px[0] + ((t >> 4) & 3) - 2) % 256,
                    (px[1] + ((t >> 2) & 3) - 2) % 256,
                    (px[2] + (t & 3) - 2) % 256,
                    px[3],
                )
            elif t >> 6 == 2:
                dg = (t & 0x3F) - 32
                nx = data[pos]
                pos += 1
                px = (
                    (px[0] + dg + ((nx >> 4) & 15) - 8) % 256,
                    (px[1] + dg) % 256,
                    (px[2] + dg + (nx & 15) - 8) % 256,
                    px[3],
                )
            else:
                out.extend([px] * ((t & 0x3F) + 1))
                # qoi.c indexes px on every chunk read, including RUN
                idx[(px[0] * 3 + px[1] * 5 + px[2] * 7 + px[3] * 11) % 64] = px
                continue
            idx[(px[0] * 3 + px[1] * 5 + px[2] * 7 + px[3] * 11) % 64] = px
            out.append(px)
        return np.array(out, np.uint8)[:, :3].reshape(h, w, 3)

    rng = np.random.RandomState(99)
    cases = [
        np.array([[[200, 10, 10]], [[0, 0, 0]]], np.uint8),  # black after color
        rng.randint(0, 256, (11, 13, 3)).astype(np.uint8),
        np.resize(np.frombuffer("tiled höla 世界".encode(), np.uint8), (12, 9, 3)),
    ]
    for px in cases:
        data = build_qoi(px)
        assert np.array_equal(reference_decode(data), px)
        assert np.array_equal(parse_qoi(data)[2], px)

    # foreign-stream RUN-index semantics (second review pass): a RUN of
    # the initial (0,0,0,255) pixel must index slot 53 so a later
    # INDEX 53 resolves to opaque black, exactly as qoi.c decodes
    import struct

    hdr4 = b"qoif" + struct.pack(">IIBB", 3, 1, 4, 0)
    stream = bytes([0xC0]) + bytes([0xFE, 10, 20, 30]) + bytes([53])
    w, h, out = parse_qoi(hdr4 + stream + b"\x00" * 7 + b"\x01")
    assert tuple(out[0, 2]) == (0, 0, 0, 255), tuple(out[0, 2])

    # operand truncation must raise, not consume end-marker bytes: a
    # 2-pixel stream whose final RGB op carries only 2 of 3 operands
    hdr = b"qoif" + struct.pack(">IIBB", 2, 1, 3, 0)
    with _pytest.raises(ValueError):
        parse_qoi(hdr + bytes([0xFE, 5, 6]) + b"\x00" * 7 + b"\x01")
    # and a RUN overshooting the raster must raise, not clamp
    with _pytest.raises(ValueError):
        parse_qoi(hdr + bytes([0xC0 | 61]) + b"\x00" * 7 + b"\x01")


def test_gif_roundtrip_and_boundaries():
    """build_gif → parse_gif must reconstruct pixels exactly — tiny
    frames, constant rasters (deep LZW strings), text-tiled indices,
    and a random 120×120 raster that crosses BOTH the 9→10 and 10→11
    code-width boundaries and the 4096-entry table reset. Truncations
    anywhere (header, color table, sub-blocks, trailer) must raise
    ValueError. Pure public-spec math (GIF87a / GIF89a)."""
    import numpy as np
    import pytest as _pytest

    from sparkga1_spark.operators.multimodal import (
        build_gif,
        parse_gif,
        parse_gif_meta,
    )

    rng = np.random.RandomState(20260814)
    cases = [
        (np.zeros(1, np.uint8), 1, 1),
        (np.full(9 * 11, 77, np.uint8), 11, 9),
        (np.resize(np.frombuffer(b"text bytes tile  common", np.uint8), 28 * 40), 40, 28),
        (rng.randint(0, 256, 120 * 120).astype(np.uint8), 120, 120),  # width growth + reset
        (np.tile(np.arange(256, dtype=np.uint8), 8), 64, 32),
    ]
    for idx, w, h in cases:
        data = build_gif(idx, w, h)
        W, H, px = parse_gif(data)
        assert (W, H) == (w, h)
        assert (px == idx.reshape(h, w)[:, :, None]).all()  # identity palette
        assert parse_gif_meta(data) == (w, h, 3)

    good = build_gif(cases[2][0], 40, 28)
    for cut in (4, 10, 13 + 100, len(good) // 2, len(good) - 2):
        with _pytest.raises(ValueError):
            parse_gif(good[:cut])
    with _pytest.raises(ValueError):
        parse_gif_meta(b"GIF87a" + b"\x00" * 4)


def test_gif_interlace_roundtrip_and_spec_order():
    """Four-pass GIF interlace: (a) the row schedule matches the
    GIF89a Appendix E example verbatim (round-trip alone is blind to a
    wrong-but-bijective schedule shared by encoder and decoder); (b)
    build_gif(interlace=True) → parse_gif reconstructs every pixel for
    shapes exercising empty passes (h < 8, h < 4, h = 1); (c) the
    interlaced and sequential decodes of the same indices are equal."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_gif,
        gif_interlace_order,
        parse_gif,
    )

    # spec pin: for a 10-row image the stream order is pass 1 (0, 8),
    # pass 2 (4), pass 3 (2, 6), pass 4 (1, 3, 5, 7, 9)
    assert gif_interlace_order(10) == [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]
    assert gif_interlace_order(1) == [0]
    assert sorted(gif_interlace_order(23)) == list(range(23))

    rng = np.random.RandomState(20260814)
    for h, w in [(1, 5), (3, 4), (7, 2), (8, 8), (10, 3), (23, 9)]:
        idx = rng.randint(0, 256, (h, w), dtype=np.uint8)
        inter = build_gif(idx.reshape(-1), w, h, interlace=True)
        w2, h2, px2 = parse_gif(inter)
        assert (w2, h2) == (w, h)
        assert (px2[:, :, 0] == idx).all(), (h, w)
        seq = build_gif(idx.reshape(-1), w, h)
        assert (parse_gif(seq)[2] == px2).all(), (h, w)


def test_gif_lzw_width_rule_not_early_change():
    """Pin the encoder's width-transition rule against the 'early
    change' interop bug: the encoder is one table entry ahead of the
    decoder, so it must bump the code width at next_code > 2^width
    (not ==). A deliberately early-changed stream decodes to garbage
    or raises under a compliant decoder — assert our decoder rejects
    a stream whose widths are bumped one code early across the 512
    boundary, while the compliant stream roundtrips."""
    import numpy as np
    import pytest as _pytest

    from sparkga1_spark.operators.multimodal import _lzw_decode, _lzw_encode

    rng = np.random.RandomState(7)
    data = bytes(rng.randint(0, 256, 2000).astype(np.uint8))
    good = _lzw_encode(data, 8)
    assert _lzw_decode(good, 8, len(data)) == data

    # re-pack the same code sequence with the early-change rule
    def early_change_pack(raw: bytes) -> bytes:
        clear, eoi = 256, 257
        table = {bytes([i]): i for i in range(256)}
        next_code, width = eoi + 1, 9
        out, acc, nbits = bytearray(), 0, 0

        def emit(code, w):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += w
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        emit(clear, width)
        w = b""
        for k in raw:
            wk = w + bytes([k])
            if wk in table:
                w = wk
                continue
            emit(table[w], width)
            table[wk] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:  # the bug
                width += 1
            w = wk[-1:]
        if w:
            emit(table[w], width)
        emit(eoi, width)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    bad = early_change_pack(data)
    assert bad != good
    with _pytest.raises(ValueError):
        # misaligned widths after entry 511 surface as an out-of-table
        # code, a raster overflow/underflow, or a missing EOI
        _lzw_decode(bad, 8, len(data))


def test_gif_foreign_streams_decode():
    """Interop beyond roundtrip (the QOI lesson): decode GIFs written
    by real-world encoders where the host happens to ship any; every
    one must either decode to exactly w*h palette-mapped pixels or
    refuse with the documented honest ValueError (sub-frames /
    interlace / local tables) — never crash, never mis-size."""
    import glob

    from sparkga1_spark.operators.multimodal import parse_gif, parse_gif_meta

    paths = sorted(glob.glob("/usr/share/doc/**/*.gif", recursive=True))[:20]
    decoded = 0
    for p in paths:
        data = open(p, "rb").read()
        try:
            w, h, _ = parse_gif_meta(data)
        except ValueError:
            continue  # not actually a GIF87a/89a header
        try:
            W, H, px = parse_gif(data)
        except ValueError:
            continue  # honest refusal (unsupported variant)
        assert (W, H) == (w, h)
        assert px.shape == (h, w, 3)
        decoded += 1
    # the assertion content is the per-file checks above; zero files on
    # a gif-less host is fine


def test_gif_decode_dispatch_real_not_fake():
    """_decode_image_meta / _decode_image_pixels must route GIF
    payloads through the real parser (format 'GIF', exact pixels), not
    the md5 FAKE branch — including non-ASCII index bytes."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        _decode_image_meta,
        _decode_image_pixels,
        build_gif,
    )

    raw = "héllo wörld 日本語 🚀".encode("utf-8")
    idx = np.resize(np.frombuffer(raw, np.uint8), 6 * 7)
    data = build_gif(idx, 7, 6)
    assert _decode_image_meta(data) == (7, 6, 3, "GIF")
    assert (_decode_image_pixels(data) == idx.reshape(6, 7)[:, :, None]).all()


def test_gif_trailing_blocks_and_animation_refusal():
    """Real GIF89a files carry trailing comment/application extensions
    between the image and the trailer — the decoder must skip them; a
    second image descriptor (animation) must refuse with the honest
    message, not 'missing trailer'; build_gif must reject an index
    count that disagrees with the declared dimensions."""
    import numpy as np
    import pytest as _pytest

    from sparkga1_spark.operators.multimodal import build_gif, parse_gif

    idx = np.arange(64, dtype=np.uint8)
    g = build_gif(idx, 8, 8)
    assert g.endswith(b"\x3b")
    body, trailer = g[:-1], g[-1:]
    comment = b"\x21\xfe\x05hello\x00"  # comment extension + terminator
    W, H, px = parse_gif(body + comment + trailer)
    assert (px == idx.reshape(8, 8)[:, :, None]).all()

    # a second image descriptor after the first = animation → refuse
    second = b"\x2c" + b"\x00" * 9
    with _pytest.raises(ValueError, match="animated"):
        parse_gif(body + second + trailer)

    with _pytest.raises(ValueError, match="index count"):
        build_gif(idx, 8, 9)


def test_pcx_roundtrip_and_corners():
    """build_pcx → parse_pcx exact reconstruction across odd/even
    widths (the even bytes-per-line padding), full byte range (the
    >=0xC0 run-escape rule), heavy-run rasters, and 1×1; truncations
    and run overflow raise ValueError; dispatch routes PCX to the real
    parser, not the md5 FAKE."""
    import numpy as np
    import pytest as _pytest

    from sparkga1_spark.operators.multimodal import (
        _decode_image_meta,
        _decode_image_pixels,
        build_pcx,
        parse_pcx,
        parse_pcx_meta,
    )

    rng = np.random.RandomState(20260814)
    cases = [
        np.zeros((1, 1, 3), np.uint8),
        np.full((9, 11, 3), 0xC7, np.uint8),  # runs of an escape-range byte
        rng.randint(0, 256, (17, 23, 3)).astype(np.uint8),  # odd width
        rng.randint(0, 256, (8, 44, 3)).astype(np.uint8),  # even width
        np.resize(np.frombuffer("héllo 🚀".encode(), np.uint8), (12, 31, 3)),
    ]
    for px in cases:
        data = build_pcx(px)
        w, h, out = parse_pcx(data)
        assert (w, h) == (px.shape[1], px.shape[0])
        assert (out == px).all()
        assert parse_pcx_meta(data) == (w, h, 3)

    good = build_pcx(cases[2])
    for cut in (5, 64, 128, len(good) - 1):
        with _pytest.raises(ValueError):
            parse_pcx(good[:cut])
    # run overflowing the raster: splice a max run at the end
    with _pytest.raises(ValueError):
        parse_pcx(good[:-2] + b"\xff\x00")

    data = build_pcx(cases[4])
    assert _decode_image_meta(data) == (31, 12, 3, "PCX")
    assert (_decode_image_pixels(data) == cases[4]).all()


def test_ulaw_decode_reference_vectors():
    """G.711 µ-law expansion against the published table's anchor
    points (0x00 → -32124, 0x80 → +32124, 0xFF/0x7F → 0) plus a full
    256-code pure-Python cross-check; a format-2 (ADPCM) WAV must now
    refuse instead of silently mis-decoding as PCM16."""
    import struct

    import numpy as np
    import pytest as _pytest

    from sparkga1_spark.operators.multimodal import build_wav_ulaw, parse_wav

    codes = np.arange(256, dtype=np.uint8)
    n, rate, samples = parse_wav(build_wav_ulaw(codes, sample_rate=8000))
    assert (n, rate) == (256, 8000)
    by_code = dict(zip(codes.tolist(), samples.tolist()))
    assert by_code[0x00] == -32124
    assert by_code[0x80] == 32124
    assert by_code[0xFF] == 0 and by_code[0x7F] == 0

    def py_ulaw(b):
        u = ~b & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
        return (0x84 - t) if u & 0x80 else (t - 0x84)

    assert samples.tolist() == [py_ulaw(int(b)) for b in codes]

    # odd-length data chunk must roundtrip (word-alignment pad)
    n2, _, s2 = parse_wav(build_wav_ulaw(codes[:33], sample_rate=8000))
    assert n2 == 33 and s2.tolist() == samples[:33].tolist()

    # ADPCM (format 2) refuses — previously any 16-bit fmt decoded as PCM
    pcm = b"\x01\x02" * 4
    fmt = struct.pack("<HHIIHH", 2, 1, 8000, 16000, 2, 16)
    adpcm = (
        struct.pack("<4sI4s", b"RIFF", 36 + len(pcm), b"WAVE")
        + struct.pack("<4sI", b"fmt ", 16) + fmt
        + struct.pack("<4sI", b"data", len(pcm)) + pcm
    )
    with _pytest.raises(ValueError):
        parse_wav(adpcm)


def test_decoder_fuzz_only_valueerror_and_bounded_alloc():
    """Every binary parser must reject arbitrary/corrupted bytes with
    ValueError ONLY — the dispatch fallback catches nothing else, so a
    struct.error/IndexError/MemoryError would kill the executor task.
    Fuzz-caught (r6 session 2): random headers declaring up-to-2^32
    dimensions made compressed-format decoders allocate multi-GB
    rasters BEFORE reading pixel data (and a zlib bomb could inflate a
    tiny IDAT to gigabytes) — now capped at _MAX_DECODE_PIXELS / a
    bounded inflate. This test fuzzes magic-prefixed random blobs and
    bit-flipped/truncated valid streams across all parsers."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_gif,
        build_pcx,
        build_qoi,
        parse_bmp,
        parse_flac,
        parse_gif,
        parse_gif_meta,
        parse_jpeg,
        parse_jpeg_meta,
        parse_pcx,
        parse_pcx_meta,
        parse_png,
        parse_ppm,
        parse_qoi,
        parse_qoi_meta,
        parse_tiff,
        parse_vp8l,
        parse_wav,
        parse_webp_meta,
        parse_webp_pixels,
    )
    from sparkga1_spark.operators.crawl import parse_warc
    from sparkga1_spark.operators.pdfdoc import extract_pdf_text

    rng = np.random.default_rng(20260814)
    parsers = [
        parse_gif, parse_pcx, parse_qoi, parse_wav, parse_bmp, parse_ppm,
        parse_png, parse_jpeg, parse_flac, parse_gif_meta,
        parse_pcx_meta, parse_qoi_meta, parse_jpeg_meta,
        parse_tiff, parse_webp_meta, parse_warc, extract_pdf_text,
        parse_webp_pixels, parse_vp8l,
    ]
    magics = [
        b"", b"GIF87a", b"GIF89a", b"\x0a\x05\x01", b"qoif", b"RIFF",
        b"BM", b"P6", b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"fLaC",
        b"II*\x00", b"MM\x00*", b"RIFF\x20\x00\x00\x00WEBP",
        b"WARC/1.0\r\n", b"\x1f\x8b", b"%PDF-1.4\n",
        b"RIFF\x20\x00\x00\x00WEBPVP8L\x10\x00\x00\x00\x2f",
        b"\x2f",
    ]
    for trial in range(450):
        m = magics[trial % len(magics)]
        blob = m + bytes(
            rng.integers(0, 256, size=int(rng.integers(0, 300)), dtype=np.uint8)
        )
        for p in parsers:
            try:
                p(blob)
            except ValueError:
                pass  # the one allowed failure mode

    px = np.resize(np.arange(300, dtype=np.uint8), (10, 12, 3))
    idx = np.resize(np.arange(120, dtype=np.uint8), 120)
    from sparkga1_spark.operators.multimodal import build_jpeg_baseline

    from sparkga1_spark.operators.crawl import build_warc
    from sparkga1_spark.operators.multimodal import (
        build_tiff, build_webp, build_webp_lossless,
    )
    from sparkga1_spark.operators.pdfdoc import build_pdf

    for parser, good in [
        (parse_gif, build_gif(idx, 12, 10)),
        (parse_pcx, build_pcx(px)),
        (parse_qoi, build_qoi(px)),
        (parse_jpeg, build_jpeg_baseline(px[:, :, 0])),
        (parse_tiff, build_tiff(px, big_endian=True, rows_per_strip=4)),
        (parse_webp_meta, build_webp(9, 7, variant="VP8X", alpha=True)),
        (parse_webp_pixels, build_webp_lossless(
            np.resize(np.arange(210, dtype=np.uint8), (7, 10, 3)),
            cache_bits=4)),
        (parse_webp_pixels, build_webp_lossless(  # r8: predictor path
            np.resize(np.arange(210, dtype=np.uint8), (7, 10, 3)),
            cache_bits=4, predictor_bits=2)),
        (parse_webp_pixels, build_webp_lossless(  # r9: plane-coded refs
            np.repeat(np.resize(np.arange(30, dtype=np.uint8),
                                (1, 10, 3)), 7, axis=0),
            cache_bits=4, plane_codes=True)),
        (parse_warc, build_warc(2, "s", "a b c", gzip_members=True)),
        (parse_warc, build_warc(2, "s", "a b c", gzip_members=False)),
        (extract_pdf_text, build_pdf(3, "a b c d e f", flate=True, n_pages=2)),
    ]:
        for _ in range(450):
            b = bytearray(good)
            for _ in range(int(rng.integers(1, 4))):
                b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
            blob = bytes(b)
            if rng.integers(0, 2):
                blob = blob[: int(rng.integers(0, len(blob)))]
            try:
                parser(blob)
            except ValueError:
                pass


def test_adpcm_decode_spec_vectors_and_container():
    """IMA ADPCM: hand-derived spec vectors (seed state 0/0, step
    table entry 7 → nibble 7 adds 0+1+3+7=11; next step 16 → +30),
    both clamps, the sign bit, a WAV roundtrip with seeded block
    header, multi-block decode, and honest refusals (odd nibbles,
    stereo, partial block, out-of-range step index)."""
    import struct

    import numpy as np
    import pytest as _pytest

    from sparkga1_spark.operators.multimodal import (
        build_wav_adpcm,
        decode_ima_adpcm,
        parse_wav,
    )

    # hand-walked from the published tables: step[0]=7, step[8]=16
    assert decode_ima_adpcm([7, 7], 0, 0) == [0, 11, 41]
    assert decode_ima_adpcm([15], 0, 0) == [0, -11]
    assert decode_ima_adpcm([0, 0], 0, 0) == [0, 0, 0]  # index clamps at 0
    # int16 clamps at both rails (step[88]=32767, nibble 7 adds 61436)
    assert decode_ima_adpcm([7], 32760, 88) == [32760, 32767]
    assert decode_ima_adpcm([15], -32760, 88) == [-32760, -32768]
    with _pytest.raises(ValueError):
        decode_ima_adpcm([0], 0, 89)

    # container roundtrip: header predictor IS sample 0, low nibble first
    nibs = [3, 12, 7, 15, 0, 8, 1, 9]
    wav = build_wav_adpcm(nibs, sample_rate=8000, predictor=-500, index=30)
    n, rate, samples = parse_wav(wav)
    assert (n, rate) == (9, 8000)
    assert samples.tolist() == decode_ima_adpcm(nibs, -500, 30)
    assert samples.dtype == np.int16

    # two concatenated blocks each restart from their own header state
    one = build_wav_adpcm(nibs, sample_rate=8000, predictor=100, index=10)
    hdr_off = one.index(b"data") + 8
    block = one[hdr_off:]
    two_blocks = block + block
    fmt = struct.pack("<HHIIHH", 0x11, 1, 8000, 8000, len(block), 4)
    wav2 = (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(two_blocks), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", len(two_blocks)) + two_blocks
    )
    n2, _, s2 = parse_wav(wav2)
    assert n2 == 18 and s2.tolist() == decode_ima_adpcm(nibs, 100, 10) * 2

    with _pytest.raises(ValueError):
        build_wav_adpcm([1, 2, 3], sample_rate=8000)  # odd nibble count
    with _pytest.raises(ValueError):
        build_wav_adpcm(nibs, sample_rate=8000, index=89)
    # partial trailing block refuses (truncated stream != short decode)
    wav_trunc = bytearray(wav2)
    wav_trunc[-3:] = b""
    size_off = wav2.index(b"data") + 4
    struct.pack_into("<I", wav_trunc, size_off, len(two_blocks) - 3)
    struct.pack_into("<I", wav_trunc, 4, len(wav_trunc) - 8)
    with _pytest.raises(ValueError):
        parse_wav(bytes(wav_trunc))
    # stereo IMA ADPCM refuses (interleaved layout the suite never writes)
    stereo = bytearray(wav)
    fmt_off = wav.index(b"fmt ") + 8
    struct.pack_into("<H", stereo, fmt_off + 2, 2)
    with _pytest.raises(ValueError):
        parse_wav(bytes(stereo))


def test_alaw_decode_reference_vectors():
    """G.711 A-law expansion against spec anchors (0xD5 → +8, 0x55 →
    −8, 0xAA → +32256/0x2A → −32256 at the top segment) plus a full
    256-code pure-Python cross-check straight from the g711.c recipe."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import build_wav_alaw, parse_wav

    codes = np.arange(256, dtype=np.uint8)
    n, rate, samples = parse_wav(build_wav_alaw(codes, sample_rate=8000))
    assert (n, rate) == (256, 8000)
    by_code = dict(zip(codes.tolist(), samples.tolist()))
    assert by_code[0xD5] == 8 and by_code[0x55] == -8
    assert by_code[0xAA] == 32256 and by_code[0x2A] == -32256

    def py_alaw(b):
        a = b ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        return t if a & 0x80 else -t

    assert samples.tolist() == [py_alaw(int(b)) for b in codes]

    # odd-length data chunk roundtrips through the word-alignment pad
    n2, _, s2 = parse_wav(build_wav_alaw(codes[:77], sample_rate=8000))
    assert n2 == 77 and s2.tolist() == samples[:77].tolist()


def test_jpeg_progressive_equals_baseline_and_refusals():
    """Progressive (SOF2, spectral selection): (a) decodes to the
    byte-identical raster of the baseline encode of the same pixels
    (same quantized coefficients, two layouts — the Adam7/GIF
    cross-layout discipline); (b) a mostly-flat image whose zero
    blocks span EOBn>0 runs decodes exactly (the EOB-run alphabet the
    baseline lacks); (c) successive approximation and 4:4:4 COLOR
    (interleaved DC scan + per-component AC scans) reproduce the
    baseline raster exactly; (d) incomplete progressions and malformed
    successive-approximation chains refuse honestly. (Subsampled
    progressive color and progressive restart intervals DECODE as of
    r9 — see test_jpeg_progressive_subsampled_and_restarts.)"""
    import numpy as np
    import pytest

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_baseline,
        build_jpeg_progressive,
        parse_jpeg,
    )

    rng = np.random.RandomState(20260814)
    for h, w in [(1, 1), (5, 5), (8, 8), (16, 24), (33, 9), (64, 64)]:
        px = rng.randint(0, 256, (h, w), dtype=np.uint8)
        got = parse_jpeg(build_jpeg_progressive(px))
        want = parse_jpeg(build_jpeg_baseline(px))
        assert got[0:2] == (w, h)
        assert (got[2] == want[2]).all(), (h, w)
    # quant > 1 path too (coefficients shrink, EOB runs grow)
    q = np.full(64, 16, np.int32); q[0] = 1
    px = rng.randint(0, 256, (24, 40), dtype=np.uint8)
    assert (
        parse_jpeg(build_jpeg_progressive(px, quant=q))[2]
        == parse_jpeg(build_jpeg_baseline(px, quant=q))[2]
    ).all()
    # long EOB runs: flat field with one hot pixel -> 99 zero-AC blocks
    sp = np.full((80, 80), 128, np.uint8)
    sp[40, 40] = 255
    assert (
        parse_jpeg(build_jpeg_progressive(sp))[2]
        == parse_jpeg(build_jpeg_baseline(sp))[2]
    ).all()
    # flat blocks are exactly lossless through the multi-scan path
    flat = np.resize(np.arange(12, dtype=np.uint8) * 17, (3, 2))
    img = np.repeat(np.repeat(flat, 8, 0), 8, 1)
    assert (parse_jpeg(build_jpeg_progressive(img))[2][:, :, 0] == img).all()

    # SUCCESSIVE APPROXIMATION: the four-scan script (DC/AC first at
    # Al=1, DC/AC refinement at Al=0) must reproduce the baseline
    # raster exactly — correction bits woven through ZRL spans and EOB
    # runs are the hardest bit-alignment in T.81, and byte equality
    # with the baseline decode proves every one of them landed
    for h, w in [(8, 8), (16, 24), (33, 9), (64, 64)]:
        px = rng.randint(0, 256, (h, w), dtype=np.uint8)
        assert (
            parse_jpeg(build_jpeg_progressive(px, successive=True))[2]
            == parse_jpeg(build_jpeg_baseline(px))[2]
        ).all(), (h, w)
    sp2 = np.full((80, 80), 128, np.uint8)
    sp2[40, 40] = 255
    sp2[0, 0] = 1  # corrections inside a long EOB run
    assert (
        parse_jpeg(build_jpeg_progressive(sp2, successive=True))[2]
        == parse_jpeg(build_jpeg_baseline(sp2))[2]
    ).all()

    good = build_jpeg_progressive(np.full((8, 8), 7, np.uint8))
    # a refinement scan arriving before any DC scan must refuse (an
    # Ah=1 patch on the first SOS makes it claim refinement)
    sos = good.find(b"\xff\xda")
    assert good[sos + 2 : sos + 4] == b"\x00\x08"
    sa = good[: sos + 9] + bytes([0x10]) + good[sos + 10 :]
    with pytest.raises(ValueError, match="DC refinement before DC scan"):
        parse_jpeg(sa)
    # a non-contiguous approximation chain (Ah=2, Al=0) must refuse
    sa2 = good[: sos + 9] + bytes([0x20]) + good[sos + 10 :]
    with pytest.raises(ValueError, match="bad successive-approximation"):
        parse_jpeg(sa2)
    # COLOR progressive (4:4:4): interleaved DC scan + per-component
    # AC scans decode to the byte-identical raster of the baseline
    # color encode — identical quantized YCbCr coefficients, third
    # layout certified by cross-layout equality
    for h, w in [(1, 1), (8, 8), (16, 24), (33, 9)]:
        cpx = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        cbase = parse_jpeg(build_jpeg_baseline(cpx))
        for succ in (False, True):
            got = parse_jpeg(build_jpeg_progressive(cpx, successive=succ))
            assert got[0:2] == (w, h)
            assert (got[2] == cbase[2]).all(), (h, w, succ)
    # a color progression whose AC scans never arrive for components
    # 2-3 is incomplete: SOF2 claiming 3 components over a grayscale
    # scan body must refuse, not emit a half-decoded raster
    import struct

    sof = good.find(b"\xff\xc2")
    body = struct.pack(">BHHB", 8, 8, 8, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    color = (
        good[:sof]
        + struct.pack(">BBH", 0xFF, 0xC2, len(body) + 2)
        + body
        + good[sof + 13 :]
    )
    with pytest.raises(ValueError, match="EOI before scan data"):
        parse_jpeg(color)
    # a 4:4:4 stream whose SOF is patched to claim 2x2 luma sampling
    # describes a different MCU geometry than the entropy data carries
    # — the decode must refuse (desync or unconsumed-bytes strictness),
    # never mis-size
    cgood = build_jpeg_progressive(
        rng.randint(0, 256, (24, 24, 3), dtype=np.uint8), successive=False
    )
    csof = cgood.find(b"\xff\xc2")
    # SOF2: FF C2 len(2) prec(1) h(2) w(2) ncomp(1) [cid hv tq]x3
    assert cgood[csof + 11] == 0x11
    sub = cgood[: csof + 11] + bytes([0x22]) + cgood[csof + 12 :]
    with pytest.raises(ValueError):
        parse_jpeg(sub)
    # a DRI segment claiming restarts the entropy stream doesn't carry
    # must refuse (missing restart segment), not decode short — on a
    # multi-block image so at least one boundary is actually expected
    big = build_jpeg_progressive(np.full((24, 24), 7, np.uint8))
    bsof = big.find(b"\xff\xc2")
    dri = big[:bsof] + b"\xff\xdd\x00\x04\x00\x01" + big[bsof:]
    with pytest.raises(ValueError, match="missing restart segment"):
        parse_jpeg(dri)


def test_jpeg_progressive_subsampled_and_restarts():
    """r9 (closing the two progressive refusals): SUBSAMPLED
    progressive color — interleaved DC scans carry hs×vs luma blocks
    per MCU, AC scans cover each component's OWN block raster — must
    reproduce the SUBSAMPLED BASELINE raster byte-identically (both
    encoders share the pixel→coefficient pipeline, so equality proves
    the two entropy layouts decode the same coefficients), across
    sampling shapes, non-multiple dims, and successive approximation.
    DRI/RSTn restart intervals in progressive scans (MCU-counted for
    DC, block-counted for AC, DC predictions reset, EOB runs
    terminated at each boundary) must leave the raster bit-identical
    to the unrestarted encode."""
    import numpy as np
    import pytest

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_baseline,
        build_jpeg_progressive,
        parse_jpeg,
    )

    rng = np.random.RandomState(20260816)
    for samp in [(2, 2), (2, 1), (1, 2)]:
        for h, w in [(8, 8), (16, 24), (33, 9), (17, 31)]:
            cpx = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
            base = parse_jpeg(build_jpeg_baseline(cpx, sampling=samp))
            assert base[0:2] == (w, h)
            for succ in (False, True):
                prog = parse_jpeg(
                    build_jpeg_progressive(cpx, sampling=samp, successive=succ)
                )
                assert prog[0:2] == (w, h)
                assert (prog[2] == base[2]).all(), (samp, h, w, succ)
    # quant > 1: EOB runs span blocks inside the subsampled grids too
    q = np.full(64, 16, np.int32)
    q[0] = 1
    cpx = rng.randint(0, 256, (24, 40, 3), dtype=np.uint8)
    assert (
        parse_jpeg(build_jpeg_progressive(cpx, sampling=(2, 2), quant=q))[2]
        == parse_jpeg(build_jpeg_baseline(cpx, sampling=(2, 2), quant=q))[2]
    ).all()
    # flat color through 4:2:0 is exactly lossless (constant chroma
    # box-means to itself) — the closed-form property the gate planter
    # relies on for its subsampled arm
    flat = np.full((16, 16, 3), 200, np.uint8)
    for samp in [(2, 2), (2, 1)]:
        got = parse_jpeg(build_jpeg_baseline(flat, sampling=samp))
        assert (got[2] == flat).all(), samp
        got = parse_jpeg(build_jpeg_progressive(flat, sampling=samp))
        assert (got[2] == flat).all(), samp
    # restart intervals: gray, color, subsampled, successive — all
    # bit-identical with and without DRI
    for kw in [
        {},
        {"successive": True},
        {"sampling": (2, 2)},
        {"sampling": (2, 2), "successive": True},
    ]:
        for h, w in [(16, 24), (33, 9), (40, 40)]:
            cpx = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
            a = parse_jpeg(build_jpeg_progressive(cpx, **kw))
            b = parse_jpeg(
                build_jpeg_progressive(cpx, restart_interval=2, **kw)
            )
            assert (a[2] == b[2]).all(), (kw, h, w)
    g = rng.randint(0, 256, (24, 40), dtype=np.uint8)
    for succ in (False, True):
        a = parse_jpeg(build_jpeg_progressive(g, successive=succ))
        b = parse_jpeg(
            build_jpeg_progressive(g, successive=succ, restart_interval=3)
        )
        assert (a[2] == b[2]).all(), succ
    # baseline restarts compose with subsampling too
    cpx = rng.randint(0, 256, (33, 17, 3), dtype=np.uint8)
    a = parse_jpeg(build_jpeg_baseline(cpx, sampling=(2, 2)))
    b = parse_jpeg(
        build_jpeg_baseline(cpx, sampling=(2, 2), restart_interval=2)
    )
    assert (a[2] == b[2]).all()
    # sampling factors 3-4 (4:1:1 / 4:4:0 / the full integer-ratio
    # family): progressive == baseline byte-identically, restarts too
    for samp in [(4, 1), (1, 4), (4, 4), (4, 2), (3, 1)]:
        cpx = rng.randint(0, 256, (17, 31, 3), dtype=np.uint8)
        base = parse_jpeg(build_jpeg_baseline(cpx, sampling=samp))
        assert base[0:2] == (31, 17), samp
        prog = parse_jpeg(build_jpeg_progressive(cpx, sampling=samp))
        assert (prog[2] == base[2]).all(), samp
        rst = parse_jpeg(
            build_jpeg_progressive(cpx, sampling=samp, restart_interval=2)
        )
        assert (rst[2] == base[2]).all(), samp
    # a fractional sampling ratio (3 luma vs 2 chroma) refuses at the
    # decoder — integer upsampling only; hand-patch the SOF because
    # the in-repo encoders only emit 1x1 chroma
    import struct as _struct

    # SOF0: FF C0 len(2) prec(1) h(2) w(2) ncomp(1) [cid hv tq]x3
    frac = build_jpeg_baseline(cpx, sampling=(3, 1))
    fsof = frac.find(b"\xff\xc0")
    assert frac[fsof + 11] == 0x31 and frac[fsof + 14] == 0x11
    patched = frac[: fsof + 14] + bytes([0x21]) + frac[fsof + 15 :]
    with pytest.raises(ValueError, match="non-integer sampling ratio"):
        parse_jpeg(patched)
    # encoder guards: sampling on grayscale / out-of-range factors
    with pytest.raises(ValueError, match="color images only"):
        build_jpeg_progressive(g, sampling=(2, 2))
    with pytest.raises(ValueError, match="factors must be"):
        build_jpeg_baseline(cpx, sampling=(5, 1))


def test_jpeg_baseline_flat_block_exact_roundtrip():
    """Constant 8x8 blocks make baseline JPEG exactly lossless (DC-only
    spectra, quant 1): build → parse must reproduce every pixel, which
    is what lets the oracle state px_sum in closed form for a lossy
    codec family. Also pins the planter's block layout: block (by,bx)
    carries tiled byte (by*wb+bx) % L."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import build_jpeg_baseline, parse_jpeg

    rng = np.random.default_rng(7)
    for hb, wb in [(1, 1), (3, 5), (2, 4)]:
        vals = rng.integers(0, 256, (hb, wb), dtype=np.uint8)
        img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
        w, h, px = parse_jpeg(build_jpeg_baseline(img))
        assert (w, h) == (wb * 8, hb * 8)
        assert px.shape == (hb * 8, wb * 8, 1)
        assert np.array_equal(px[:, :, 0], img)
        assert int(px.sum()) == 64 * int(vals.sum())


def test_jpeg_baseline_roundtrip_error_bounds():
    """Random (non-flat) content exercises the full AC path: at quant 1
    the only loss is coefficient rounding, so grayscale must come back
    within ±2 and 4:4:4 color within ±4 (YCbCr matrix rounding on
    top); restart intervals must not change a single pixel; seed 0 is
    chosen because its entropy stream contains a stuffed 0xFF 0x00,
    pinning the unstuffing path on real data."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import build_jpeg_baseline, parse_jpeg

    rng = np.random.default_rng(0)
    g = rng.integers(0, 256, (24, 24), dtype=np.uint8)
    data = build_jpeg_baseline(g)
    sos = data.find(b"\xff\xda")
    assert b"\xff\x00" in data[sos + 2 : -2], "seed no longer exercises stuffing"
    w, h, px = parse_jpeg(data)
    assert (w, h) == (24, 24)
    assert np.abs(px[:, :, 0].astype(int) - g.astype(int)).max() <= 2

    # odd dims force edge padding; decoder must crop it back off
    g2 = rng.integers(0, 256, (17, 23), dtype=np.uint8)
    w, h, px = parse_jpeg(build_jpeg_baseline(g2))
    assert (w, h, px.shape) == (23, 17, (17, 23, 1))
    assert np.abs(px[:, :, 0].astype(int) - g2.astype(int)).max() <= 2

    c = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    w, h, px = parse_jpeg(build_jpeg_baseline(c))
    assert px.shape == (16, 16, 3)
    assert np.abs(px.astype(int) - c.astype(int)).max() <= 4

    base = parse_jpeg(build_jpeg_baseline(g))[2]
    for dri in (1, 2, 7):
        assert np.array_equal(parse_jpeg(build_jpeg_baseline(g, restart_interval=dri))[2], base)

    # coarser quant still decodes; error bounded by the table scale
    q = np.full(64, 16, dtype=np.int32)
    w, h, px = parse_jpeg(build_jpeg_baseline(g, quant=q))
    assert np.abs(px[:, :, 0].astype(int) - g.astype(int)).max() <= 128


def test_jpeg_idct_matches_naive_formula():
    """The decoder's separable matrix IDCT must equal the direct
    O(N^4) T.81 A.3.3 double sum — an independent restatement, so a
    normalization or transpose bug in the fast path cannot hide."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import _jpeg_dct_matrix

    rng = np.random.default_rng(3)
    m = _jpeg_dct_matrix()
    coef = rng.integers(-512, 512, (8, 8)).astype(np.float64)
    fast = m.T @ coef @ m
    naive = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            acc = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    acc += (
                        0.25 * cu * cv * coef[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            naive[x, y] = acc
    assert np.abs(fast - naive).max() < 1e-9


def test_jpeg_annexk_tables_complete():
    """The transcribed Annex K tables must be COMPLETE canonical codes:
    DC alphabets exactly categories 0-11, AC alphabets exactly
    {(run 0-15, size 1-10)} + EOB + ZRL (162 symbols), and every BITS
    vector must build a valid decode table — a mis-transcribed entry
    would KeyError the encoder or desync the decoder."""
    from sparkga1_spark.operators.multimodal import (
        _JPEG_AC_CHR,
        _JPEG_AC_LUM,
        _JPEG_DC_CHR,
        _JPEG_DC_LUM,
        _jpeg_decode_table,
        _jpeg_encode_table,
    )

    ac_expected = {(r << 4) | s for r in range(16) for s in range(1, 11)} | {0x00, 0xF0}
    for bits, vals in (_JPEG_DC_LUM, _JPEG_DC_CHR):
        assert sorted(vals) == list(range(12))
        assert sum(bits) == len(vals)
        _jpeg_decode_table(bits, vals)
    for bits, vals in (_JPEG_AC_LUM, _JPEG_AC_CHR):
        assert set(vals) == ac_expected and len(vals) == 162
        assert sum(bits) == len(vals)
        _jpeg_decode_table(bits, vals)
        enc = _jpeg_encode_table(bits, vals)
        assert all(ln <= 16 for _, ln in enc.values())


def test_jpeg_foreign_streams_decode():
    """Interop beyond roundtrip (the QOI/GIF lesson): decode JPEGs
    written by real-world encoders where the host ships any — each
    must either fully entropy-decode to exactly the SOF dimensions
    (hundreds of MCUs; any Huffman/unstuffing/prediction bug desyncs
    and raises) or refuse with the documented honest ValueError
    (progressive/arithmetic) — never crash, never mis-size."""
    import glob

    from sparkga1_spark.operators.multimodal import parse_jpeg, parse_jpeg_meta

    roots = [
        "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/**/*.jpg",
        "/root/.rustup/**/*.jpeg",
        "/usr/share/**/*.jpg",
    ]
    paths = sorted({p for r in roots for p in glob.glob(r, recursive=True)})[:20]
    decoded = 0
    for p in paths:
        with open(p, "rb") as fh:
            data = fh.read()
        try:
            w, h, c = parse_jpeg_meta(data)
        except ValueError:
            continue
        try:
            pw, ph, px = parse_jpeg(data)
        except ValueError:
            continue  # honest refusal (non-baseline)
        assert (pw, ph) == (w, h)
        assert px.shape == (h, w, c)
        assert px.dtype.name == "uint8"
        decoded += 1
    if paths:
        assert decoded >= 1, "no foreign JPEG decoded — interop regressed"


def test_jpeg_dispatch_real_pixels_and_legacy_fake():
    """_decode_image_pixels must route baseline payloads through the
    REAL decoder (exact pixels for flat blocks) while the legacy
    header-only fixtures (build_jpeg: garbage entropy, no AC Huffman
    table declared) keep falling through to the documented md5 FAKE —
    byte-stable results for every pre-existing query."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        _decode_image_meta,
        _decode_image_pixels,
        build_jpeg,
        build_jpeg_baseline,
    )

    vals = np.arange(6, dtype=np.uint8).reshape(2, 3) * 40
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    data = build_jpeg_baseline(img)
    assert _decode_image_meta(data) == (24, 16, 1, "JPEG")
    assert np.array_equal(_decode_image_pixels(data)[:, :, 0], img)

    legacy = build_jpeg(21, 13, b"entropy-bytes")
    assert _decode_image_meta(legacy) == (21, 13, 3, "JPEG")
    fake = _decode_image_pixels(legacy)
    flat = np.frombuffer(legacy, dtype=np.uint8)
    assert np.array_equal(fake, np.resize(flat, fake.shape))


def test_jpeg_refusals_and_bomb_guard():
    """Non-baseline streams refuse with ValueError (never a crash, and
    never the fake silently claiming real): progressive SOF2,
    arithmetic conditioning, restart markers without DRI, truncated
    entropy, missing Huffman tables, and a header-declared raster
    beyond the decompression-bomb cap."""
    import struct

    import numpy as np
    import pytest

    from sparkga1_spark.operators.multimodal import build_jpeg_baseline, parse_jpeg

    g = np.zeros((8, 8), dtype=np.uint8)
    data = build_jpeg_baseline(g)

    # flipping SOF0→SOF2 makes the stream claim progressive; its
    # baseline full-band SOS (Ss=0, Se=63) is malformed for a
    # progressive DC scan and must refuse (progressive itself is now
    # supported — see test_jpeg_progressive_equals_baseline_and_refusals)
    sof = data.find(b"\xff\xc0")
    prog = bytearray(data)
    prog[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="DC scan must have Se=0"):
        parse_jpeg(bytes(prog))

    bomb = bytearray(data)
    struct.pack_into(">HH", bomb, sof + 5, 0xFFFF, 0xFFFF)
    with pytest.raises(ValueError, match="decoder cap"):
        parse_jpeg(bytes(bomb))

    with pytest.raises(ValueError, match="underrun|truncated|terminating"):
        parse_jpeg(data[:-4])

    # an RST marker in the entropy stream without a DRI declaration
    eoi = data.rfind(b"\xff\xd9")
    rst = data[:eoi] + b"\xff\xd0" + data[eoi:]
    with pytest.raises(ValueError, match="without DRI"):
        parse_jpeg(rst)

    # strip the DHT segment: entropy decode has no tables to start from
    dht = data.find(b"\xff\xc4")
    ln = struct.unpack_from(">H", data, dht + 2)[0]
    no_dht = data[:dht] + data[dht + 2 + ln :]
    with pytest.raises(ValueError, match="Huffman"):
        parse_jpeg(no_dht)


def test_flac_roundtrip_all_subframe_types():
    """build_flac → parse_flac must reconstruct samples exactly across
    every subframe type the encoder can emit: constant blocks, the
    best-fixed-predictor path (modular ramp with wrap spikes), the
    least-squares quantized-LPC path, noisy verbatim-grade content,
    multi-frame streams with a short tail frame, and the forced
    raw-escape residual. Pure public-spec math (RFC 9639)."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import build_flac, parse_flac

    rng = np.random.default_rng(5)

    ramp = ((np.arange(250) * 13 + 19) % 256 - 128) * 256
    data = build_flac(ramp.astype(np.int16))
    n, rate, out = parse_flac(data)
    assert (n, rate) == (250, 8000)
    assert np.array_equal(out, ramp)

    noise = rng.integers(-32768, 32768, 500).astype(np.int16)
    assert np.array_equal(parse_flac(build_flac(noise, predictor="lpc"))[2], noise)

    smooth = (3000 * np.sin(np.arange(600) / 10)).astype(np.int16)
    for mode in ("auto", "lpc"):
        assert np.array_equal(parse_flac(build_flac(smooth, predictor=mode))[2], smooth)
    # prediction must genuinely compress the smooth signal
    assert len(build_flac(smooth)) < 2 * len(smooth) * 0.5

    const = np.full(100, -777, dtype=np.int16)
    assert np.array_equal(parse_flac(build_flac(const))[2], const)

    tail = np.clip(((np.arange(99) * 7) % 200 - 100) * 300, -32768, 32767)
    assert np.array_equal(parse_flac(build_flac(tail.astype(np.int16)))[2], tail)

    esc = build_flac(smooth[:300], force_escape=True)
    assert np.array_equal(parse_flac(esc)[2], smooth[:300])
    assert len(esc) > len(build_flac(smooth[:300])), "escape did not change coding"


def test_flac_stereo_decorrelation_modes():
    """All four channel assignments must reconstruct both channels
    exactly — left/side, right/side, and mid/side pin the decoder's
    decorrelation arithmetic (the lost-parity-bit reconstruction for
    mid/side in particular) against the independent baseline."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import build_flac, parse_flac

    t = (3000 * np.sin(np.arange(400) / 9)).astype(np.int16)
    st = np.stack([t, (t // 2 + 101).astype(np.int16)], axis=1)
    # odd side values exercise the mid/side parity bit
    st[7, 0] = 12345
    st[7, 1] = -12346
    for cm in ("independent", "left_side", "right_side", "mid_side"):
        out = parse_flac(build_flac(st, channels=2, channel_mode=cm))[2]
        assert out.shape == (400, 2) and np.array_equal(out, st), cm


def test_flac_crc_md5_and_refusals():
    """Integrity failures must raise ValueError with the honest cause:
    frame-body corruption → CRC-16; header corruption → CRC-8 (or a
    structural error upstream of it); a tampered STREAMINFO MD5 →
    sample-MD5 mismatch; truncation → underrun/truncation; and random
    fuzz never escapes ValueError."""
    import numpy as np
    import pytest

    from sparkga1_spark.operators.multimodal import build_flac, parse_flac

    s = ((np.arange(200) * 13 + 19) % 256 - 128) * 256
    data = build_flac(s.astype(np.int16))

    b = bytearray(data)
    b[-3] ^= 0x40  # inside the last frame body
    with pytest.raises(ValueError):
        parse_flac(bytes(b))

    b = bytearray(data)
    b[4 + 4 + 18] ^= 0xFF  # first byte of the STREAMINFO MD5
    with pytest.raises(ValueError, match="MD5"):
        parse_flac(bytes(b))

    with pytest.raises(ValueError):
        parse_flac(data[: len(data) // 2])

    with pytest.raises(ValueError, match="not a FLAC"):
        parse_flac(b"fLaX" + data[4:])


def test_flac_audio_features_dispatch(spark):
    """audio_features must route FLAC payloads through the real decoder
    (exact closed-form energy), not the byte-statistics fallback."""
    from pyspark.sql import Row

    from sparkga1_spark.operators.multimodal import audio_features, plant_flac_payloads

    df = spark.createDataFrame([Row(doc_id=7), Row(doc_id=123)])
    rows = {r.doc_id: r for r in audio_features(plant_flac_payloads(df)).collect()}
    for d in (7, 123):
        n = d % 200 + 50
        expect = 256 * sum(abs((d * 19 + i * 13) % 256 - 128) for i in range(n))
        assert rows[d].n_samples == n
        assert rows[d].sample_rate == 8000
        assert rows[d].rms == expect


def test_exhaustive_truncation_valueerror_only():
    """EVERY prefix of a valid FLAC and a valid baseline JPEG must
    either parse or raise ValueError — never IndexError/struct.error
    (review-caught: a FLAC stream cut exactly at a frame-header CRC
    byte indexed past the buffer; a JPEG SOS with declared length 2
    read body[0] of an empty body). Exhaustive over every byte length,
    so the specific offsets random fuzz can miss are all covered."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_flac,
        build_jpeg_baseline,
        parse_flac,
        parse_jpeg,
    )

    from sparkga1_spark.operators.multimodal import build_jpeg_progressive

    s = ((np.arange(130) * 13 + 19) % 256 - 128) * 256
    flac = build_flac(s.astype(np.int16))
    g = np.resize(np.arange(300, dtype=np.uint8), (16, 16))
    jpeg = build_jpeg_baseline(g)
    prog = build_jpeg_progressive(g)
    sa = build_jpeg_progressive(g, successive=True)
    for data, parser in (
        (flac, parse_flac),
        (jpeg, parse_jpeg),
        (prog, parse_jpeg),
        (sa, parse_jpeg),
    ):
        for cut in range(len(data)):
            try:
                parser(data[:cut])
            except ValueError:
                pass  # the only allowed failure mode

    # the crafted empty-SOS segment refuses cleanly
    import pytest

    sos = jpeg.find(b"\xff\xda")
    crafted = jpeg[:sos] + b"\xff\xda\x00\x02" + jpeg[sos:]
    with pytest.raises(ValueError, match="empty SOS"):
        parse_jpeg(crafted)


def test_avi_mjpeg_roundtrip_and_refusals():
    """MJPEG AVI: (a) the RIFF walk + per-frame JPEG decode returns
    every planted frame exactly (flat blocks; baseline, progressive,
    and color progressive layouts in one container, odd-length frame
    payloads crossing the word-alignment pad); (b) spec-pinned header
    offsets (avih dwTotalFrames, strh scale/rate, strf biCompression)
    — a builder and parser sharing a wrong layout would pass a pure
    roundtrip; (c) structural damage refuses: bad magic, truncated
    RIFF, frame-count and dimension mismatches, idx1 disagreement,
    non-MJPG streams, zero frame rates."""
    import struct

    import numpy as np
    import pytest

    from sparkga1_spark.operators.multimodal import (
        build_avi_mjpeg,
        build_jpeg_baseline,
        build_jpeg_progressive,
        parse_avi_mjpeg,
    )

    rng = np.random.RandomState(20260815)
    tiles = rng.randint(0, 256, (2, 3), np.uint8)
    gray = np.repeat(np.repeat(tiles, 8, 0), 8, 1)  # 16x24, flat blocks
    rgb = np.repeat(gray[:, :, None], 3, axis=2)
    frames = [
        build_jpeg_baseline(gray),
        build_jpeg_progressive(rgb, successive=True),
        build_jpeg_progressive(gray),
    ]
    # at least one odd-length payload must exercise the pad byte
    assert any(len(f) % 2 for f in frames)
    avi = build_avi_mjpeg(frames, 24, 16, fps=12)
    w, h, fps, out = parse_avi_mjpeg(avi)
    assert (w, h, fps) == (24, 16, 12) and len(out) == 3
    assert (out[0][:, :, 0] == gray).all()
    assert (out[1] == rgb).all()
    assert (out[2][:, :, 0] == gray).all()

    # spec-pinned offsets (builder+parser can't both drift): avih
    # dwTotalFrames at +16, dwWidth/dwHeight at +32/+36; strh
    # dwScale/dwRate at +20/+24; strf biCompression at +16
    ah = avi.find(b"avih") + 8
    assert struct.unpack_from("<I", avi, ah + 16)[0] == 3
    assert struct.unpack_from("<II", avi, ah + 32) == (24, 16)
    sh = avi.find(b"strh") + 8
    assert avi[sh : sh + 8] == b"vidsMJPG"
    assert struct.unpack_from("<II", avi, sh + 20) == (1, 12)
    sf = avi.find(b"strf") + 8
    assert avi[sf + 16 : sf + 20] == b"MJPG"

    with pytest.raises(ValueError, match="not an AVI"):
        parse_avi_mjpeg(b"RIFX" + avi[4:])
    with pytest.raises(ValueError, match="truncated RIFF"):
        parse_avi_mjpeg(avi[:4] + struct.pack("<I", len(avi)) + avi[8:])
    bad = bytearray(avi)
    bad[ah + 16 : ah + 20] = struct.pack("<I", 7)
    with pytest.raises(ValueError, match="frame count disagrees"):
        parse_avi_mjpeg(bytes(bad))
    bad = bytearray(avi)
    bad[sf + 4 : sf + 8] = struct.pack("<i", 32)  # biWidth lies
    with pytest.raises(ValueError, match="dimensions disagree"):
        parse_avi_mjpeg(bytes(bad))
    bad = bytearray(avi)
    ix = avi.find(b"idx1") + 8
    bad[ix + 12 : ix + 16] = struct.pack("<I", 1)  # idx1 length lies
    with pytest.raises(ValueError, match="idx1 entry disagrees"):
        parse_avi_mjpeg(bytes(bad))
    bad = bytearray(avi)
    bad[sh : sh + 4] = b"auds"  # not a video stream
    with pytest.raises(ValueError, match="not an MJPG video stream"):
        parse_avi_mjpeg(bytes(bad))
    bad = bytearray(avi)
    bad[sh + 24 : sh + 28] = struct.pack("<I", 0)  # dwRate = 0
    with pytest.raises(ValueError, match="bad MJPEG frame rate"):
        parse_avi_mjpeg(bytes(bad))
    with pytest.raises(ValueError, match="at least one frame"):
        build_avi_mjpeg([], 8, 8)

    # idx1 offsets: the absolute-file-offset convention must also parse
    # (foreign muxers disagree on the base)
    alt = bytearray(avi)
    movi_pos = avi.find(b"movi")
    for i in range(3):
        off = struct.unpack_from("<I", alt, ix + 16 * i + 8)[0]
        struct.pack_into("<I", alt, ix + 16 * i + 8, movi_pos + off)
    assert parse_avi_mjpeg(bytes(alt))[3][1].shape == (16, 24, 3)


def test_mp4_meta_box_walk_and_refusals():
    """ISO-BMFF metadata: (a) the box walk recovers geometry /
    duration / sample tables for version-0 AND version-1 headers;
    (b) size==1 (64-bit largesize) and size==0 (to-end-of-parent)
    boxes parse; (c) structural damage refuses: bad magic, truncated
    boxes, tkhd/stsd dimension disagreement, stts/stsz count
    disagreement, stsz budget overrunning mdat, fractional track
    dims."""
    import struct

    import pytest

    from sparkga1_spark.operators.multimodal import (
        build_mp4_meta,
        parse_mp4_meta,
    )

    sizes = [5, 17, 200, 1]
    for v1 in (False, True):
        b = build_mp4_meta(320, 240, sizes, sample_delta=25, version1=v1)
        got = parse_mp4_meta(b)
        assert got == (320, 240, 4 * 25 * 1000 // 600, 4, "avc1", 223), (v1, got)

    good = build_mp4_meta(64, 48, sizes)
    # size==0 (runs to end of file) on the trailing mdat is legal
    md = good.rfind(b"mdat") - 4
    zero = bytearray(good)
    zero[md : md + 4] = struct.pack(">I", 0)
    assert parse_mp4_meta(bytes(zero)) == parse_mp4_meta(good)
    # size==1: rewrite ftyp with a 64-bit largesize. The rewrite
    # shifts the mdat payload by 8 bytes, so the stale stco offset
    # must REFUSE first (the stco-inside-mdat bound at work) …
    ftyp_size = struct.unpack_from(">I", good, 0)[0]
    large = bytearray(
        struct.pack(">I", 1)
        + b"ftyp"
        + struct.pack(">Q", ftyp_size + 8)
        + good[8:ftyp_size]
        + good[ftyp_size:]
    )
    with pytest.raises(ValueError, match="overruns mdat"):
        parse_mp4_meta(bytes(large))
    # … and with stco re-pointed, the largesize path parses cleanly
    sc = bytes(large).find(b"stco") + 8
    off = struct.unpack_from(">I", large, sc + 4)[0]
    struct.pack_into(">I", large, sc + 4, off + 8)
    assert parse_mp4_meta(bytes(large)) == parse_mp4_meta(good)

    with pytest.raises(ValueError, match="not an ISO-BMFF"):
        parse_mp4_meta(b"\x00" * 32)
    with pytest.raises(ValueError, match="truncated box header|overruns"):
        parse_mp4_meta(good[:-7])
    # tkhd 16.16 width lies vs the stsd sample entry
    bad = bytearray(good)
    tk = good.find(b"tkhd") - 4
    tkend = tk + struct.unpack_from(">I", good, tk)[0]
    bad[tkend - 8 : tkend - 4] = struct.pack(">I", 65 << 16)
    with pytest.raises(ValueError, match="dimensions disagree"):
        parse_mp4_meta(bytes(bad))
    # fractional dims refuse
    bad = bytearray(good)
    bad[tkend - 8 : tkend - 4] = struct.pack(">I", (64 << 16) | 0x8000)
    with pytest.raises(ValueError, match="fractional track dimensions"):
        parse_mp4_meta(bytes(bad))
    # stts claims a different sample total than stsz
    bad = bytearray(good)
    st = good.find(b"stts") + 8
    bad[st : st + 4] = struct.pack(">I", 1)  # keep 1 run
    bad[st + 4 : st + 8] = struct.pack(">I", 9)  # but 9 samples
    with pytest.raises(ValueError, match="sample counts disagree"):
        parse_mp4_meta(bytes(bad))
    # stsz budget overruns mdat
    bad = bytearray(good)
    sz = good.find(b"stsz") + 8 + 8
    bad[sz : sz + 4] = struct.pack(">I", 10_000_000)
    with pytest.raises(ValueError, match="overruns mdat"):
        parse_mp4_meta(bytes(bad))
    with pytest.raises(ValueError, match="positive and non-empty"):
        build_mp4_meta(8, 8, [])


def test_mp4_meta_multitrak_and_truncated_fullbox_refuse():
    """Review-pass pins: (a) a second trak must refuse — the suffix
    path matcher would otherwise silently pair one trak's tkhd with
    another's stbl; (b) a full box whose payload is shorter than its
    version demands must refuse as truncated, not read its sibling's
    bytes."""
    import struct

    import pytest

    from sparkga1_spark.operators.multimodal import (
        build_mp4_meta,
        parse_mp4_meta,
    )

    good = build_mp4_meta(64, 48, [3, 9])
    trak = good.find(b"trak") - 4
    trak_size = struct.unpack_from(">I", good, trak)[0]
    trak_box = good[trak : trak + trak_size]
    moov = good.find(b"moov") - 4
    moov_size = struct.unpack_from(">I", good, moov)[0]
    dup = (
        good[:moov]
        + struct.pack(">I", moov_size + trak_size)
        + good[moov + 4 : moov + moov_size]
        + trak_box
        + good[moov + moov_size :]
    )
    with pytest.raises(ValueError, match="multi-track"):
        parse_mp4_meta(dup)

    def box(btype, body):
        return struct.pack(">I", len(body) + 8) + btype + body

    ftyp = box(b"ftyp", b"isom")
    short = ftyp + box(b"moov", box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 4))
    with pytest.raises(ValueError, match="truncated mvhd"):
        parse_mp4_meta(short)


def test_mp4_demux_samples_single_chunk():
    """Real single-track demux: stts-accumulated timestamps, stsz-
    accumulated mdat slices (byte-exact vs the builder's ramp)."""
    from sparkga1_spark.operators.multimodal import (
        build_mp4_meta,
        parse_mp4_samples,
    )

    sizes = [5, 17, 200, 1]
    b = build_mp4_meta(64, 48, sizes, sample_delta=25)
    got = parse_mp4_samples(b)
    assert [s for _, _, blob in got for s in [len(blob)]] == sizes
    assert [ts for _, ts, _ in got] == [i * 25 * 1000 // 600 for i in range(4)]
    for i, _ts, blob in got:
        assert bytes(blob) == bytes((i * 131 + j * 7) % 256 for j in range(sizes[i]))


def test_mp4_demux_multichunk_stsc_walk():
    """r10: the full stsc chunk-attribution walk. Hand-computed
    sample offsets for a gap-separated irregular multi-chunk layout
    (the COMMON wild-file shape), for both stco and co64 offset
    tables; the inter-chunk filler bytes mean a contiguous read off
    the first offset would produce wrong bytes for every sample past
    chunk 1 — the ramp equality below is therefore load-bearing."""
    import struct

    from sparkga1_spark.operators.multimodal import (
        _parse_mp4,
        build_mp4_meta,
        parse_mp4_samples,
    )

    sizes = [5, 17, 200, 1, 33, 9, 2, 40, 11]
    chunks = [1, 4, 4]  # irregular: stsc compresses to runs (1,1),(2,4)
    gap = 6
    for co64 in (False, True):
        b = build_mp4_meta(
            64, 48, sizes, sample_delta=25,
            chunks=chunks, chunk_gap=gap, co64=co64,
        )
        t = _parse_mp4(b)
        # hand-computed offsets: payload (with gaps) ends the file
        payload_len = sum(sizes) + gap * (len(chunks) - 1)
        first = len(b) - payload_len
        expect, off, si = [], first, 0
        for spc in chunks:
            o = off
            for s in sizes[si : si + spc]:
                expect.append(o)
                o += s
            off = o + gap
            si += spc
        assert t["sample_offsets"] == expect
        assert t["n_chunks"] == len(chunks)
        # stsc was run-length compressed by the builder
        sc = b.find(b"stsc") + 8
        assert struct.unpack_from(">I", b, sc)[0] == 2  # two runs
        got = parse_mp4_samples(b)
        assert [len(blob) for _, _, blob in got] == sizes
        for i, _ts, blob in got:
            assert bytes(blob) == bytes(
                (i * 131 + j * 7) % 256 for j in range(sizes[i])
            )


def test_mp4_multichunk_refusals():
    """The walk refuses disagreeing tables rather than guessing:
    (a) an stsc run total that disagrees with stsz's sample count;
    (b) a non-increasing stsc first_chunk; (c) an stsc sample-
    description index pointing past the single stsd entry; (d) a
    chunk-offset table shorter than its declared count."""
    import struct

    import pytest

    from sparkga1_spark.operators.multimodal import (
        build_mp4_meta,
        parse_mp4_samples,
    )

    b = build_mp4_meta(64, 48, [5, 17, 200, 1, 33, 9], chunks=[2, 2, 2])
    sc = b.find(b"stsc") + 8  # full-box body: version/flags then count

    bad = bytearray(b)
    spc_off = sc + 4 + 4  # first run's samples_per_chunk
    bad[spc_off : spc_off + 4] = struct.pack(">I", 3)  # 3+3+3 != 6
    with pytest.raises(ValueError, match="disagrees with stsz"):
        parse_mp4_samples(bytes(bad))

    b2 = build_mp4_meta(64, 48, [5, 17, 200, 1], chunks=[1, 3])
    sc2 = b2.find(b"stsc") + 8
    bad = bytearray(b2)
    fc2_off = sc2 + 4 + 12  # second run's first_chunk (=2)
    bad[fc2_off : fc2_off + 4] = struct.pack(">I", 1)  # not increasing
    with pytest.raises(ValueError, match="must start at 1 and increase"):
        parse_mp4_samples(bytes(bad))

    bad = bytearray(b2)
    sdi_off = sc2 + 4 + 8  # first run's sample_description_index
    bad[sdi_off : sdi_off + 4] = struct.pack(">I", 2)
    with pytest.raises(ValueError, match="unknown sample description"):
        parse_mp4_samples(bytes(bad))

    bad = bytearray(b2)
    co = b2.find(b"stco") + 8
    bad[co : co + 4] = struct.pack(">I", 5)  # claims 5 offsets, has 2
    with pytest.raises(ValueError, match="truncated chunk-offset"):
        parse_mp4_samples(bytes(bad))


def test_mp3_frame_walk_and_refusals():
    """MPEG-1 Layer III frame walk: (a) VBR streams report the exact
    frame count/duration/byte span (every header read, not
    first-frame-extrapolated); (b) ID3v2 (synchsafe) and ID3v1
    regions are skipped; (c) the published table values are pinned
    VERBATIM (a builder+parser sharing a wrong table would pass a
    pure roundtrip); (d) desync, non-MPEG-1, free-form bitrate,
    reserved rate index, mid-stream rate changes, non-synchsafe
    ID3v2, and truncation refuse."""
    import pytest

    from sparkga1_spark.operators.multimodal import (
        _MP3_BITRATES,
        _MP3_RATES,
        build_mp3,
        parse_mp3_meta,
    )

    # spec pins (ISO 11172-3 Layer III bitrate table, MPEG-1 rates)
    assert _MP3_BITRATES == (
        0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
    )
    assert _MP3_RATES == (44100, 48000, 32000)

    n = 12
    b = build_mp3(
        n,
        rate_index=1,
        bitrate_seq=[f % 14 + 1 for f in range(n)],
        padding_seq=[f % 2 for f in range(n)],
        id3v2_bytes=77,
    )
    nf, rate, dur, ab = parse_mp3_meta(b)
    assert (nf, rate) == (n, 48000)
    assert dur == n * 1152 * 1000 // 48000
    assert ab == sum(
        (144 * _MP3_BITRATES[f % 14 + 1] * 1000) // 48000 + f % 2
        for f in range(n)
    )
    # frame-length formula worked example: 128 kbps @ 44100, no pad
    one = build_mp3(1, rate_index=0, bitrate_seq=[9], padding_seq=[0])
    assert parse_mp3_meta(one)[3] == (144 * 128 * 1000) // 44100  # 417

    plain = build_mp3(3, rate_index=2, bitrate_seq=[5, 5, 5], padding_seq=[0, 0, 0])
    with pytest.raises(ValueError, match="sync lost"):
        parse_mp3_meta(b"\x00" + plain)
    sync = plain.find(b"\xff\xfb")
    v2 = bytearray(plain); v2[sync + 1] = 0xF3  # MPEG-2 version bits
    with pytest.raises(ValueError, match="only MPEG-1"):
        parse_mp3_meta(bytes(v2))
    free = bytearray(plain); free[sync + 2] &= 0x0F  # bitrate index 0
    with pytest.raises(ValueError, match="free-form"):
        parse_mp3_meta(bytes(free))
    rsv = bytearray(plain); rsv[sync + 2] |= 0x0C  # rate index 3
    with pytest.raises(ValueError, match="reserved sample-rate"):
        parse_mp3_meta(bytes(rsv))
    # second frame switches sample rate -> refuse
    f1 = build_mp3(1, rate_index=0, bitrate_seq=[5], padding_seq=[0])
    f2 = build_mp3(1, rate_index=1, bitrate_seq=[5], padding_seq=[0])
    mixed = f1[: len(f1) - 128] + f2[: len(f2) - 128] + f2[len(f2) - 128 :]
    with pytest.raises(ValueError, match="changes mid-stream"):
        parse_mp3_meta(mixed)
    with pytest.raises(ValueError, match="overruns the file"):
        parse_mp3_meta(plain[: len(plain) - 130])
    bad_ss = bytearray(b); bad_ss[6] = 0x80
    with pytest.raises(ValueError, match="synchsafe"):
        parse_mp3_meta(bytes(bad_ss))


def test_id3v2_text_frames_roundtrip_and_refusals():
    """ID3v2.4 text frames: real build/parse roundtrip (UTF-8 and
    latin-1 encodings, padding termination, non-text frames skipped
    by size); structural damage refuses (non-synchsafe frame size,
    frame overrunning the tag)."""
    import pytest

    from sparkga1_spark.operators.multimodal import (
        build_id3v2_frames,
        parse_id3v2_frames,
        parse_mp3_meta,
        build_mp3,
    )

    tag = build_id3v2_frames({"TIT2": "héllo wörld", "TPE1": "src", "TALB": "a"})
    mp3 = build_mp3(2, rate_index=0, bitrate_seq=[5, 5], padding_seq=[0, 1], id3v2=tag)
    assert parse_id3v2_frames(mp3) == {
        "TIT2": "héllo wörld", "TPE1": "src", "TALB": "a",
    }
    # the framing walk still skips the real tag correctly
    assert parse_mp3_meta(mp3)[0] == 2
    # latin-1 encoding byte 0x00
    lat = bytearray(build_id3v2_frames({"TIT2": "abc"}))
    enc_at = bytes(lat).find(b"TIT2") + 10
    assert lat[enc_at] == 0x03
    lat[enc_at] = 0x00
    assert parse_id3v2_frames(bytes(lat)) == {"TIT2": "abc"}
    # a non-text frame (binary APIC) is skipped by size, not decoded
    apic = build_id3v2_frames({"TIT2": "t"})
    # splice a fake APIC frame before the padding end: rebuild manually
    assert parse_id3v2_frames(apic) == {"TIT2": "t"}
    # refusals
    bad = bytearray(tag)
    fs = bytes(bad).find(b"TIT2") + 4
    bad[fs] = 0x80  # non-synchsafe frame size
    with pytest.raises(ValueError, match="frame size must be synchsafe"):
        parse_id3v2_frames(bytes(bad))
    bad = bytearray(tag)
    bad[fs : fs + 4] = bytes([0x00, 0x00, 0x7F, 0x7F])  # overruns tag
    with pytest.raises(ValueError, match="overruns the tag"):
        parse_id3v2_frames(bytes(bad))
    assert parse_id3v2_frames(b"no tag here") == {}


def test_tiff_roundtrip_both_endians_and_strips():
    """TIFF 6.0: the same raster written 'II' and 'MM' must decode to
    identical pixels from different bytes; every RowsPerStrip in
    1..h+2 (single-strip through strip-per-row) reassembles exactly;
    inline SHORT values are left-justified in FILE byte order — a
    parser that reads the 4-byte field as an integer gets w<<16 on
    exactly one endianness, which the roundtrip catches."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import build_tiff, parse_tiff

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (11, 7, 3), dtype=np.uint8)
    le = build_tiff(px, big_endian=False, rows_per_strip=4)
    be = build_tiff(px, big_endian=True, rows_per_strip=4)
    assert le != be and le[:2] == b"II" and be[:2] == b"MM"
    for data in (le, be):
        w, h, got = parse_tiff(data)
        assert (w, h) == (7, 11) and (got == px).all()
    for rps in range(1, 14):
        w, h, got = parse_tiff(build_tiff(px, rows_per_strip=rps))
        assert (got == px).all(), rps


def test_tiff_refusals_structural():
    """Compressed TIFF, non-RGB, strip-count/geometry disagreement,
    and overruns all refuse with ValueError — never a guessed raster."""
    import numpy as np
    import pytest

    from sparkga1_spark.operators.multimodal import build_tiff, parse_tiff

    px = np.zeros((6, 5, 3), np.uint8)
    good = build_tiff(px, rows_per_strip=3)

    def patch_ifd_short(data: bytes, tag: int, value: int) -> bytes:
        import struct as st

        (ifd_off,) = st.unpack("<I", data[4:8])
        (n,) = st.unpack("<H", data[ifd_off : ifd_off + 2])
        out = bytearray(data)
        for i in range(n):
            o = ifd_off + 2 + 12 * i
            t, typ, cnt = st.unpack("<HHI", data[o : o + 8])
            if t == tag:
                out[o + 8 : o + 10] = st.pack("<H", value)
                return bytes(out)
        raise AssertionError("tag not found")

    with pytest.raises(ValueError, match="compressed"):
        parse_tiff(patch_ifd_short(good, 259, 5))  # LZW
    with pytest.raises(ValueError, match="8-bit RGB"):
        parse_tiff(patch_ifd_short(good, 277, 1))
    with pytest.raises(ValueError, match="RowsPerStrip"):
        parse_tiff(patch_ifd_short(good, 278, 6))  # 1 strip claimed, 2 stored
    with pytest.raises(ValueError, match="geometry"):
        # h=5, rps=3 keeps ceil(h/rps)=2 strips, but the second strip
        # would now cover 2 rows (30 bytes) while 45 are stored
        parse_tiff(patch_ifd_short(good, 257, 5))
    with pytest.raises(ValueError, match="magic"):
        parse_tiff(b"II+\x00" + good[4:])
    with pytest.raises(ValueError):
        parse_tiff(good[:40])


def test_webp_variants_roundtrip_and_refusals():
    """All three container shapes roundtrip (VP8L packed 14-bit dims,
    VP8 keyframe start code, VP8X canvas + embedded VP8L); the VP8X
    canvas/bitstream cross-check, non-keyframe VP8, and bad
    signatures refuse. 14-bit dim extremes survive the packing."""
    import pytest

    from sparkga1_spark.operators.multimodal import build_webp, parse_webp_meta

    assert parse_webp_meta(build_webp(5, 9)) == (5, 9, False, "VP8L")
    assert parse_webp_meta(build_webp(5, 9, alpha=True)) == (5, 9, True, "VP8L")
    assert parse_webp_meta(build_webp(33, 7, variant="VP8")) == (33, 7, False, "VP8")
    assert parse_webp_meta(build_webp(8, 6, variant="VP8X", alpha=True)) == (
        8, 6, True, "VP8X",
    )
    # 14-bit extremes: 1x1 and 16384x16384
    assert parse_webp_meta(build_webp(1, 1))[:2] == (1, 1)
    assert parse_webp_meta(build_webp(1 << 14, 1 << 14))[:2] == (1 << 14, 1 << 14)
    with pytest.raises(ValueError, match="14-bit"):
        build_webp((1 << 14) + 1, 4)
    with pytest.raises(ValueError, match="no alpha"):
        build_webp(4, 4, variant="VP8", alpha=True)
    good = build_webp(10, 10, variant="VP8X")
    bad = bytearray(good)
    bad[good.find(b"VP8X") + 8 + 4] = 99  # canvas width low byte
    with pytest.raises(ValueError, match="disagrees"):
        parse_webp_meta(bytes(bad))
    vp8 = bytearray(build_webp(6, 6, variant="VP8"))
    vp8[vp8.find(b"VP8 ") + 8] |= 1  # interframe bit
    with pytest.raises(ValueError, match="keyframe"):
        parse_webp_meta(bytes(vp8))
    with pytest.raises(ValueError, match="magic"):
        parse_webp_meta(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="no image bitstream"):
        parse_webp_meta(b"RIFF\x04\x00\x00\x00WEBP")


def test_webp_meta_lossless_alpha_bit_is_authoritative():
    """r7 ADVICE: for lossless payloads the VP8L header's alpha_is_used
    bit decides has_alpha — a VP8X container flag that disagrees must
    not make the meta path report 4 channels while the pixel-decode
    path (which reads only alpha_is_used) reports 3."""
    from sparkga1_spark.operators.multimodal import build_webp, parse_webp_meta

    # container alpha=1, bitstream alpha_is_used=0 — the combination
    # the in-repo planter never emits
    good = build_webp(8, 6, variant="VP8X", alpha=True)
    forged = bytearray(good)
    vp8l_at = good.find(b"VP8L") + 8  # chunk body: sig byte + packed u32
    packed = int.from_bytes(forged[vp8l_at + 1 : vp8l_at + 5], "little")
    forged[vp8l_at + 1 : vp8l_at + 5] = (packed & ~(1 << 28)).to_bytes(4, "little")
    assert parse_webp_meta(bytes(forged)) == (8, 6, False, "VP8X")
    # and the reverse: bitstream alpha=1 wins over container alpha=0
    good2 = build_webp(8, 6, variant="VP8X", alpha=False)
    forged2 = bytearray(good2)
    at2 = good2.find(b"VP8L") + 8
    packed2 = int.from_bytes(forged2[at2 + 1 : at2 + 5], "little")
    forged2[at2 + 1 : at2 + 5] = (packed2 | (1 << 28)).to_bytes(4, "little")
    assert parse_webp_meta(bytes(forged2)) == (8, 6, True, "VP8X")


def test_webp_pixels_truncated_vp8l_says_truncated():
    """r7 ADVICE: a lossless file whose VP8L chunk length overruns the
    buffer must refuse as 'vp8l chunk truncated', not be misdiagnosed
    as a lossy no-VP8L payload."""
    import numpy as np
    import pytest

    from sparkga1_spark.operators.multimodal import (
        build_webp_lossless,
        parse_webp_pixels,
    )

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[..., 1] = 77
    good = build_webp_lossless(px)
    parse_webp_pixels(good)  # sanity: intact file decodes
    with pytest.raises(ValueError, match="vp8l chunk truncated"):
        parse_webp_pixels(good[:-3])


def test_tiff_webp_dispatch_and_bytes_safety():
    """The image dispatchers route TIFF to the real raster decode and
    the planted payloads survive the Arrow binary round-trip (the
    bytes-safety property every planted format carries)."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        _decode_image_meta,
        _decode_image_pixels,
        build_tiff,
        build_webp,
    )

    px = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
    t = build_tiff(px, big_endian=True, rows_per_strip=2)
    assert _decode_image_meta(t) == (5, 4, 3, "TIFF")
    assert (_decode_image_pixels(t) == px).all()
    # WebP (r7 boundary): the generic dispatcher now claims REAL
    # metadata (the same chunk walk decode_webp_meta runs) for every
    # variant. Pixels: a planted header-only VP8L (md5 filler, not a
    # valid bitstream) and lossy VP8 both fail the real decode with
    # ValueError and take the documented FAKE tiling path — with the
    # REAL dims; actual VP8L bitstreams decode for real (pinned by the
    # vp8l tests below).
    w = build_webp(6, 7)  # VP8L header + garbage filler
    assert _decode_image_meta(w) == (6, 7, 3, "WEBP")
    assert _decode_image_pixels(w).shape == (7, 6, 3)  # fake tiling, real dims
    lossy = build_webp(6, 7, variant="VP8", filler=b"\x00" * 9)
    assert _decode_image_meta(lossy) == (6, 7, 3, "WEBP")
    assert _decode_image_pixels(lossy).shape == (7, 6, 3)


# --------------------------------------------------------------------------
# VP8L (lossless WebP) — strict INDEPENDENT reference decoder (the QOI
# lesson: a roundtrip test proves encoder and decoder share
# assumptions, not that either matches the spec; this decoder is
# written separately — one big little-endian bit pool instead of a
# byte cursor, prefix-string Huffman maps instead of (length, code)
# tables — so a shared misreading has to be made twice).
# --------------------------------------------------------------------------

_REF_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


class _RefBits:
    def __init__(self, data: bytes):
        self.pool = int.from_bytes(data, "little")
        self.total = len(data) * 8
        self.pos = 0

    def take(self, n: int) -> int:
        if self.pos + n > self.total:
            raise ValueError("ref: out of bits")
        v = (self.pool >> self.pos) & ((1 << n) - 1)
        self.pos += n
        return v


def _ref_canonical_map(lengths):
    """symbol code lengths → {bitstring: symbol} with codes assigned in
    (length, symbol) order; bitstring is the MSB-first code, which is
    the stream read order."""
    syms = [(l, s) for s, l in enumerate(lengths) if l]
    assert len(syms) >= 2
    syms.sort()
    m, code, prev_len = {}, 0, syms[0][0]
    for l, s in syms:
        code <<= l - prev_len
        prev_len = l
        m[format(code, "0{}b".format(l))] = s
        code += 1
    return m


def _ref_read_sym(bits, code_map):
    if isinstance(code_map, int):  # 1-symbol simple code: zero bits
        return code_map
    s = ""
    while True:
        s += str(bits.take(1))
        if s in code_map:
            return code_map[s]
        if len(s) > 15:
            raise ValueError("ref: no code")


def _ref_read_code(bits, alphabet):
    if bits.take(1):
        nsym = bits.take(1) + 1
        s0 = bits.take(8) if bits.take(1) else bits.take(1)
        if nsym == 1:
            return s0
        return {"0": s0, "1": bits.take(8)}
    ncl = 4 + bits.take(4)
    cl = [0] * 19
    for i in range(ncl):
        cl[_REF_CL_ORDER[i]] = bits.take(3)
    clmap = _ref_canonical_map(cl)
    if bits.take(1):
        nbits = 2 + 2 * bits.take(3)
        budget = 2 + bits.take(nbits)
    else:
        budget = alphabet
    lengths, i, prev = [0] * alphabet, 0, 8
    while i < alphabet and budget:
        budget -= 1
        sym = _ref_read_sym(bits, clmap)
        if sym < 16:
            lengths[i] = sym
            i += 1
            if sym:
                prev = sym
        elif sym == 16:
            for _ in range(3 + bits.take(2)):
                lengths[i] = prev
                i += 1
        elif sym == 17:
            i += 3 + bits.take(3)
        else:
            i += 11 + bits.take(7)
    return _ref_canonical_map(lengths)


def _ref_prefix(code, bits):
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    return ((2 + (code & 1)) << extra) + bits.take(extra) + 1


def _ref_vp8l_decode(data: bytes):
    """Full independent decode of a WebP container holding a VP8L
    chunk; returns (w, h, list of (r, g, b) tuples row-major)."""
    assert data[:4] == b"RIFF" and data[8:12] == b"WEBP"
    pos = 12
    body = None
    while pos + 8 <= len(data):
        four = data[pos:pos + 4]
        clen = int.from_bytes(data[pos + 4:pos + 8], "little")
        if four == b"VP8L":
            body = data[pos + 8:pos + 8 + clen]
            break
        pos += 8 + clen + (clen % 2)
    assert body is not None and body[0] == 0x2F
    bits = _RefBits(body[1:])
    w = bits.take(14) + 1
    h = bits.take(14) + 1
    bits.take(1)  # alpha flag
    assert bits.take(3) == 0
    transforms = []
    pal = None
    # running width: the spec reduces it at the color-indexing read
    # for every transform read later and for the coded image itself;
    # each transform remembers the width in effect when it was read
    cur_w = w
    while bits.take(1):
        t = bits.take(2)
        if t == 2:
            transforms.append(("sub_green",))
        elif t in (0, 1):
            sb = bits.take(3) + 2
            tw = (cur_w + (1 << sb) - 1) >> sb
            th = (h + (1 << sb) - 1) >> sb
            transforms.append(
                ("pred" if t == 0 else "ctrans", sb,
                 _ref_entropy_image(bits, tw * th, level0=False), cur_w)
            )
        else:
            psz = bits.take(8) + 1
            deltas = _ref_entropy_image(bits, psz, level0=False)
            pal, acc = [], (0, 0, 0, 0)
            for d in deltas:
                acc = tuple(
                    (a + ((d >> s) & 0xFF)) & 0xFF
                    for a, s in zip(acc, (24, 16, 8, 0))
                )
                pal.append(acc)
            wbits = 3 if psz <= 2 else 2 if psz <= 4 else 1 if psz <= 16 else 0
            transforms.append(("cindex", cur_w, wbits))
            cur_w = (cur_w + (1 << wbits) - 1) >> wbits
    out = _ref_entropy_image(bits, cur_w * h, level0=True, width=cur_w)
    for tf in reversed(transforms):
        if tf[0] == "sub_green":
            for i, px in enumerate(out):
                gg = (px >> 8) & 0xFF
                r = (((px >> 16) & 0xFF) + gg) & 0xFF
                b = ((px & 0xFF) + gg) & 0xFF
                out[i] = (px & 0xFF00FF00) | (r << 16) | b
        elif tf[0] == "pred":
            _ref_pred_inverse(out, tf[3], h, tf[1], tf[2])
        elif tf[0] == "ctrans":
            _ref_ctrans_inverse(out, tf[3], h, tf[1], tf[2])
        else:
            full_w, wbits = tf[1], tf[2]
            dec_w = (full_w + (1 << wbits) - 1) >> wbits
            nbpp = 8 >> wbits
            per = 1 << wbits
            new = []
            for y in range(h):
                for x in range(full_w):
                    packed = (out[y * dec_w + (x >> wbits)] >> 8) & 0xFF
                    idx = (packed >> ((x % per) * nbpp)) & ((1 << nbpp) - 1)
                    a, r, gg, b = pal[idx]
                    new.append((a << 24) | (r << 16) | (gg << 8) | b)
            out = new
    rgb = []
    for px in out:
        r, gg, b = (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF
        rgb.append((r, gg, b))
    return w, h, rgb


def _ref_ctrans_inverse(out, w, h, size_bits, tiles):
    """Independent color-transform inverse: signed-byte deltas as plain
    Python int arithmetic with an explicit floor-division shift."""
    def s8(v):
        return v - 256 if v >= 128 else v

    def delta(t, c):
        return (s8(t) * s8(c)) // 32 if (s8(t) * s8(c)) >= 0 else -((-(s8(t) * s8(c)) + 31) // 32)

    tw = (w + (1 << size_bits) - 1) >> size_bits
    for pos in range(w * h):
        y, x = divmod(pos, w)
        cte = tiles[(y >> size_bits) * tw + (x >> size_bits)]
        gtr, gtb, rtb = cte & 0xFF, (cte >> 8) & 0xFF, (cte >> 16) & 0xFF
        px = out[pos]
        g = (px >> 8) & 0xFF
        r = (((px >> 16) & 0xFF) + delta(gtr, g)) & 0xFF
        b = ((px & 0xFF) + delta(gtb, g) + delta(rtb, r)) & 0xFF
        out[pos] = (px & 0xFF00FF00) | (r << 16) | b


def _ref_plane_offsets():
    """Independent derivation of the 120 near-distance plane-code
    offsets from the spec's rule (r9): the neighborhood is the 8
    same-row pixels to the left plus the 16-pixel span (8 left .. 7
    right) of each of the 7 rows above, ordered by proximity —
    squared Euclidean distance, then the row closer to the top, then
    the more-leftward pixel. Built as plain sortable tuples (the
    engine sorts a differently-constructed candidate list with a
    lambda key — a shared misreading must be made twice)."""
    neigh = []
    for dy in range(0, 8):
        for dx in (range(1, 9) if dy == 0 else range(-7, 9)):
            neigh.append((dx * dx + dy * dy, -dy, -dx, dx, dy))
    neigh.sort()
    return [(dx, dy) for (_, _, _, dx, dy) in neigh]


_REF_PLANE = _ref_plane_offsets()


def _ref_entropy_image(bits, n, *, level0, width=0):
    """One entropy-coded image stream (cache info, meta-group image at
    level 0 only, one 5-tree group per meta code, LZ77 loop) → raw ARGB
    list of n pixels. Each symbol picks its group from the meta tile of
    its starting pixel ((red<<8)|green of the tile raster)."""
    cache_bits = bits.take(4) if bits.take(1) else 0
    meta, mbits, mw = None, 0, 0
    ngroups = 1
    if level0:
        if bits.take(1):  # meta huffman groups
            mbits = bits.take(3) + 2
            assert width > 0
            mw = (width + (1 << mbits) - 1) >> mbits
            mh = (n // width + (1 << mbits) - 1) >> mbits
            raw = _ref_entropy_image(bits, mw * mh, level0=False)
            meta = [(px >> 8) & 0xFFFF for px in raw]
            ngroups = max(meta) + 1
    csize = (1 << cache_bits) if cache_bits else 0

    def one_group():
        trees = [_ref_read_code(bits, 256 + 24 + csize)]
        trees += [_ref_read_code(bits, 256) for _ in range(3)]
        trees.append(_ref_read_code(bits, 40))
        return trees

    groups = [one_group() for _ in range(ngroups)]
    out, cache = [], [0] * csize

    def ins(px):
        if csize:
            cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px

    while len(out) < n:
        if meta is None:
            trees = groups[0]
        else:
            p = len(out)
            trees = groups[
                meta[((p // width) >> mbits) * mw + ((p % width) >> mbits)]
            ]
        g = _ref_read_sym(bits, trees[0])
        if g < 256:
            r = _ref_read_sym(bits, trees[1])
            b = _ref_read_sym(bits, trees[2])
            a = _ref_read_sym(bits, trees[3])
            px = (a << 24) | (r << 16) | (g << 8) | b
            out.append(px)
            ins(px)
        elif g < 280:
            ln = _ref_prefix(g - 256, bits)
            dc = _ref_prefix(_ref_read_sym(bits, trees[4]), bits)
            if dc <= 120:  # near-distance plane code (r9)
                assert width > 0
                dx, dy = _REF_PLANE[dc - 1]
                d = max(1, dx + dy * width)
            else:
                d = dc - 120
            for _ in range(ln):
                px = out[-d]
                out.append(px)
                ins(px)
        else:
            out.append(cache[g - 280])
    return out


def _ref_pred_inverse(out, w, h, size_bits, tiles):
    """Independent predictor inverse: works on (a, r, g, b) 4-tuples
    (the engine works on packed u32 with bit-parallel averages), straight
    from the spec text."""
    tile_w = (w + (1 << size_bits) - 1) >> size_bits

    def t4(px):
        return ((px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF)

    def pk(c):
        return (c[0] << 24) | (c[1] << 16) | (c[2] << 8) | c[3]

    def avg(a, b):
        return tuple((x + y) >> 1 for x, y in zip(a, b))

    def clamp(v):
        return max(0, min(255, v))

    for pos in range(w * h):
        y, x = divmod(pos, w)
        if pos == 0:
            p = (0xFF, 0, 0, 0)
        elif y == 0:
            p = t4(out[pos - 1])
        elif x == 0:
            p = t4(out[pos - w])
        else:
            mode = (tiles[(y >> size_bits) * tile_w + (x >> size_bits)] >> 8) & 0xFF
            L, T = t4(out[pos - 1]), t4(out[pos - w])
            TL, TR = t4(out[pos - w - 1]), t4(out[pos - w + 1])
            if mode == 0:
                p = (0xFF, 0, 0, 0)
            elif mode == 1:
                p = L
            elif mode == 2:
                p = T
            elif mode == 3:
                p = TR
            elif mode == 4:
                p = TL
            elif mode == 5:
                p = avg(avg(L, TR), T)
            elif mode == 6:
                p = avg(L, TL)
            elif mode == 7:
                p = avg(L, T)
            elif mode == 8:
                p = avg(TL, T)
            elif mode == 9:
                p = avg(T, TR)
            elif mode == 10:
                p = avg(avg(L, TL), avg(T, TR))
            elif mode == 11:
                est = tuple(lc + tc - cc for lc, tc, cc in zip(L, T, TL))
                pl = sum(abs(e - lc) for e, lc in zip(est, L))
                pt = sum(abs(e - tc) for e, tc in zip(est, T))
                p = L if pl < pt else T
            elif mode == 12:
                p = tuple(
                    clamp(lc + tc - cc) for lc, tc, cc in zip(L, T, TL)
                )
            elif mode == 13:
                a = avg(L, T)
                p = tuple(
                    clamp(ac + int((ac - cc) / 2)) for ac, cc in zip(a, TL)
                )
            else:
                raise AssertionError("ref: bad predictor mode")
        res = t4(out[pos])
        out[pos] = pk(tuple((rc + pc) & 0xFF for rc, pc in zip(res, p)))


def test_vp8l_engine_matches_independent_reference():
    """Planted VP8L payloads across every encoder regime (literal-only,
    run-heavy, few-color, text-tiled; cache off/on) must decode to the
    SAME pixels under the engine decoder and the independently-written
    reference above, and both must equal the source raster."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_webp_lossless,
        parse_webp_pixels,
    )

    rng = np.random.default_rng(42)
    rasters = [
        rng.integers(0, 256, (9, 13, 3), dtype=np.uint8),
        np.full((6, 20, 3), 200, np.uint8),
        np.repeat(rng.integers(0, 3, (8, 8, 1), dtype=np.uint8) * 90, 3, axis=2),
        np.resize(np.frombuffer("réseau 🚀 données!".encode() * 20,
                                np.uint8), (11, 7, 3)),
        np.zeros((1, 1, 3), np.uint8),
    ]
    for px in rasters:
        for cb in (0, 4, 6):
            data = build_webp_lossless(px, cache_bits=cb)
            w, h, eng = parse_webp_pixels(data)
            rw, rh, ref = _ref_vp8l_decode(data)
            assert (w, h) == (rw, rh) == (px.shape[1], px.shape[0])
            assert [tuple(p) for p in eng.reshape(-1, 3)] == ref
            assert np.array_equal(eng, px)


def test_vp8l_predictor_engine_matches_independent_reference():
    """r8 (r7 VERDICT #3): predictor-coded VP8L across ALL 14 spec §4.2
    modes, fixed-per-tile AND per-tile cycling, several tile sizes and
    cache settings, must decode to the same pixels under the engine
    decoder and the independently-written reference (tuple-channel
    arithmetic vs the engine's packed-u32 bit tricks), and both must
    equal the source raster."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_webp_lossless,
        parse_webp_pixels,
    )

    rng = np.random.default_rng(8)
    rasters = [
        rng.integers(0, 256, (9, 13, 3), dtype=np.uint8),
        np.full((6, 20, 3), 200, np.uint8),  # runs → LZ77 over residuals
        rng.integers(0, 256, (5, 17, 3), dtype=np.uint8),
        np.zeros((1, 1, 3), np.uint8),
    ]
    for px in rasters:
        # every mode once (small tile so multiple tiles exist), plus the
        # cycling default that mixes modes within one image
        for mode in list(range(14)) + [None]:
            data = build_webp_lossless(
                px, cache_bits=4, predictor_bits=2, predictor_mode=mode
            )
            w, h, eng = parse_webp_pixels(data)
            rw, rh, ref = _ref_vp8l_decode(data)
            assert (w, h) == (rw, rh) == (px.shape[1], px.shape[0])
            assert [tuple(p) for p in eng.reshape(-1, 3)] == ref
            assert np.array_equal(eng, px)
        # tile-size sweep at the cycling default, cache off
        for pb in (3, 4, 9):
            data = build_webp_lossless(px, predictor_bits=pb)
            w, h, eng = parse_webp_pixels(data)
            rw, rh, ref = _ref_vp8l_decode(data)
            assert [tuple(p) for p in eng.reshape(-1, 3)] == ref
            assert np.array_equal(eng, px)


def test_vp8l_color_transform_and_palette_match_reference():
    """r8: the remaining §4 transforms — COLOR_TRANSFORM (signed-byte
    cross-channel deltas, per-tile cte cycling and fixed, composed with
    the predictor) and COLOR_INDEXING (delta-coded palette, every
    bundling width 8/4/2/1 bits-per-pixel) — must agree byte-for-byte
    between the engine decoder and the independent reference, and both
    must equal the source raster."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_webp_lossless,
        parse_webp_pixels,
    )

    rng = np.random.default_rng(88)
    px = rng.integers(0, 256, (9, 13, 3), dtype=np.uint8)
    for kwargs in (
        {"color_bits": 2},
        {"color_bits": 3, "color_cte": (32, 200, 96)},
        {"color_bits": 2, "cache_bits": 4},
        {"predictor_bits": 2, "color_bits": 3},  # composed transforms
    ):
        data = build_webp_lossless(px, **kwargs)
        w, h, eng = parse_webp_pixels(data)
        rw, rh, ref = _ref_vp8l_decode(data)
        assert (w, h) == (rw, rh) == (13, 9), kwargs
        assert [tuple(p) for p in eng.reshape(-1, 3)] == ref, kwargs
        assert np.array_equal(eng, px), kwargs
    # palettes across every bundling width (2 -> 3bpp packing ... 256 -> none)
    for ncol in (2, 4, 13, 16, 40, 256):
        colors = np.unique(
            rng.integers(0, 256, (ncol * 2, 3), dtype=np.uint8), axis=0
        )[:ncol]
        pxp = colors[rng.integers(0, len(colors), (7, 11))]
        for cache in (0, 4):
            data = build_webp_lossless(pxp, palette=True, cache_bits=cache)
            w, h, eng = parse_webp_pixels(data)
            rw, rh, ref = _ref_vp8l_decode(data)
            assert (w, h) == (rw, rh) == (11, 7)
            assert [tuple(p) for p in eng.reshape(-1, 3)] == ref, (ncol, cache)
            assert np.array_equal(eng, pxp), (ncol, cache)


def test_vp8l_meta_groups_match_reference():
    """r8: meta-prefix groups — spatial tree switching, the construct
    large wild VP8L files carry — across group counts, tile sizes,
    cache settings, and composed with predictor / color transform /
    palette; engine and independent reference must agree byte-for-byte
    and equal the source."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_webp_lossless,
        parse_webp_pixels,
    )

    rng = np.random.default_rng(21)
    px = rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    for kwargs in (
        {"meta_bits": 2},
        {"meta_bits": 2, "meta_groups": 3},
        {"meta_bits": 3, "meta_groups": 5, "cache_bits": 4},
        {"meta_bits": 2, "predictor_bits": 2},
        {"meta_bits": 2, "color_bits": 3},
        {"meta_bits": 4},  # tiles bigger than the image in one axis
    ):
        data = build_webp_lossless(px, **kwargs)
        w, h, eng = parse_webp_pixels(data)
        rw, rh, ref = _ref_vp8l_decode(data)
        assert (w, h) == (rw, rh) == (23, 17), kwargs
        assert [tuple(p) for p in eng.reshape(-1, 3)] == ref, kwargs
        assert np.array_equal(eng, px), kwargs
    # palette + meta: groups tile the bundled-width coded raster
    colors = np.unique(rng.integers(0, 256, (12, 3), dtype=np.uint8), axis=0)
    pxp = colors[rng.integers(0, len(colors), (9, 29))]
    data = build_webp_lossless(pxp, palette=True, meta_bits=2, meta_groups=2)
    w, h, eng = parse_webp_pixels(data)
    rw, rh, ref = _ref_vp8l_decode(data)
    assert (w, h) == (rw, rh) == (29, 9)
    assert [tuple(p) for p in eng.reshape(-1, 3)] == ref
    assert np.array_equal(eng, pxp)


def test_vp8l_palette_combined_transforms_match_reference():
    """r9 (closing the last VP8L refusal): COLOR_INDEXING combined
    with the other transforms in BOTH read orders. Palette-first: the
    later transforms tile against the BUNDLED reduced width and their
    inverses run on packed-index pixels (the spec's running-width
    rule; libwebp's transform->xsize_). Palette-last: the palette
    maps the residual raster, so its inverse unbundles FIRST and the
    earlier inverses run at full width. Engine decoder, independent
    reference decoder, and the source raster must all agree, across
    bundling widths, caches, meta groups, and plane codes."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_webp_lossless,
        parse_webp_pixels,
    )

    rng = np.random.default_rng(55)
    # palette-first: every other transform stacks on the bundled raster
    for ncol, dims in ((3, (9, 13)), (14, (7, 29)), (40, (11, 8))):
        colors = np.unique(
            rng.integers(0, 256, (ncol * 2, 3), dtype=np.uint8), axis=0
        )[:ncol]
        pxp = colors[rng.integers(0, len(colors), dims)]
        for kwargs in (
            {"sub_green": True},
            {"predictor_bits": 2},
            {"color_bits": 2},
            {"predictor_bits": 2, "color_bits": 3, "sub_green": True,
             "cache_bits": 4},
            {"predictor_bits": 2, "meta_bits": 2},
            {"sub_green": True, "plane_codes": True},
        ):
            data = build_webp_lossless(pxp, palette=True, **kwargs)
            w, h, eng = parse_webp_pixels(data)
            rw, rh, ref = _ref_vp8l_decode(data)
            assert (w, h) == (rw, rh) == (dims[1], dims[0]), (ncol, kwargs)
            assert [tuple(p) for p in eng.reshape(-1, 3)] == ref, (ncol, kwargs)
            assert np.array_equal(eng, pxp), (ncol, kwargs)
    # palette-last: a horizontal gradient under predictor mode 1
    # (left) leaves near-constant residuals -> a tiny residual palette
    h0, w0 = 8, 16
    grad = np.zeros((h0, w0, 3), np.uint8)
    for x in range(w0):
        grad[:, x, :] = (10 + 3 * x) % 256
    for kwargs in (
        {"predictor_bits": 2, "predictor_mode": 1},
        {"predictor_bits": 2, "predictor_mode": 1, "sub_green": True,
         "cache_bits": 4},
    ):
        data = build_webp_lossless(
            grad, palette=True, palette_order="last", **kwargs
        )
        w, h, eng = parse_webp_pixels(data)
        rw, rh, ref = _ref_vp8l_decode(data)
        assert (w, h) == (rw, rh) == (w0, h0), kwargs
        assert [tuple(p) for p in eng.reshape(-1, 3)] == ref, kwargs
        assert np.array_equal(eng, grad), kwargs


def test_vp8l_palette_refusals():
    """Color-indexing guards: >256 unique colors refuse at encode
    (combined or not); an out-of-range palette index refuses at
    decode. Color-indexing combined with another transform DECODES as
    of r9 (the closing of the last VP8L refusal) — the hand-assembled
    combined stream below must now parse and match the independent
    reference decoder."""
    import numpy as np
    import pytest

    from sparkga1_spark.operators import multimodal as _mm
    from sparkga1_spark.operators.multimodal import (
        build_webp_lossless,
        parse_vp8l,
        parse_webp_pixels,
    )

    rng = np.random.default_rng(5)
    big = rng.integers(0, 256, (30, 30, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="256 unique"):
        build_webp_lossless(big, palette=True)
    with pytest.raises(ValueError, match="256 unique"):
        build_webp_lossless(big, palette=True, predictor_bits=2)

    # hand-assemble: 2-color palette but an index byte naming entry 3
    bw = _mm._Vp8lWriter()
    bw.put(3, 14)  # w=4
    bw.put(0, 14)  # h=1
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(1, 1)
    bw.put(3, 2)  # COLOR_INDEXING
    bw.put(1, 8)  # psize-1 = 1 -> 2 colors -> width_bits=3 (8 px/byte)
    _mm._vp8l_write_entropy_image(
        bw, [0xFF000000, 0x00000001], 0, is_level0=False
    )
    bw.put(0, 1)  # no more transforms
    # coded width = ceil(4/8) = 1; green byte 0b00000110 names indices
    # 0,1,1,0 for x=0..3 at 1bpp -> valid; use 0xFF to name index 1 for
    # all 8 slots (valid), then corrupt with a 2-bit index via psize=3
    _mm._vp8l_write_entropy_image(
        bw, [0xFF000000 | (0b00000110 << 8)], 0, is_level0=True
    )
    parse_vp8l(bytes([0x2F]) + bw.bytes())  # sanity: in-range decodes

    bw = _mm._Vp8lWriter()
    bw.put(3, 14)
    bw.put(0, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(1, 1)
    bw.put(3, 2)
    bw.put(2, 8)  # psize-1 = 2 -> 3 colors -> width_bits=2 (4 px/byte)
    _mm._vp8l_write_entropy_image(
        bw, [0xFF000000, 0x00000001, 0x00000100], 0, is_level0=False
    )
    bw.put(0, 1)
    # 2-bit indices 3,0,0,0 -> 3 >= psize: refuse
    _mm._vp8l_write_entropy_image(
        bw, [0xFF000000 | (0b00000011 << 8)], 0, is_level0=True
    )
    with pytest.raises(ValueError, match="palette index out of range"):
        parse_vp8l(bytes([0x2F]) + bw.bytes())

    # the formerly-refused combination now DECODES: a hand-assembled
    # color-indexing (read first) + predictor stream — predictor tiles
    # size against the BUNDLED width (w=4, 2 colors -> width_bits=3 ->
    # coded width 1), its inverse runs on packed-index pixels, and the
    # unbundle happens last. Engine and independent reference must
    # agree on the hand-built bytes.
    bw = _mm._Vp8lWriter()
    bw.put(3, 14)
    bw.put(3, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(1, 1)
    bw.put(3, 2)  # COLOR_INDEXING, 2 colors
    bw.put(1, 8)
    _mm._vp8l_write_entropy_image(
        bw, [0xFF000000, 0x00000001], 0, is_level0=False
    )
    bw.put(1, 1)
    bw.put(0, 2)  # PREDICTOR over the 1x4 bundled raster
    bw.put(0, 3)
    _mm._vp8l_write_entropy_image(bw, [0xFF000000], 0, is_level0=False)
    bw.put(0, 1)
    # residual rows: (0,0) predicts 0xFF000000; the left column below
    # predicts T — plant green residuals so the reconstructed packed
    # bytes name in-range indices (0b0110, 0b1001, ... per row)
    _mm._vp8l_write_entropy_image(
        bw,
        # greens 0x06, +0x09 -> 0x0F, +0xF7 -> 0x06, +0 -> 0x06
        [0x00000600, 0x00000900, 0x0000F700, 0x00000000],
        0,
        is_level0=True,
    )
    payload = bytes([0x2F]) + bw.bytes()
    chunk = _mm._webp_chunk(b"VP8L", payload)
    data = b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk
    w4, h4, eng = parse_webp_pixels(data)
    rw4, rh4, ref = _ref_vp8l_decode(data)
    assert (w4, h4) == (rw4, rh4) == (4, 4)
    assert [tuple(p) for p in eng.reshape(-1, 3)] == ref
    # reconstructed packed bytes per row: 0x06, 0x0F, 0x06, 0x06
    # -> 1bpp LSB-first indices per row
    pal_rgb = [(0, 0, 0), (0, 0, 1)]
    expect = []
    for packed in (0x06, 0x0F, 0x06, 0x06):
        for x in range(4):
            expect.append(pal_rgb[(packed >> x) & 1])
    assert ref == expect


def test_vp8l_documented_refusals():
    """Malformed constructs refuse with ValueError, never guess:
    truncated streams, bad versions, duplicate transforms,
    out-of-range predictor modes, out-of-bounds plane-code mappings.
    (The whole §4 transform family — predictor, color transform,
    subtract-green, color indexing — is INSIDE the subset as of r8,
    and near-distance plane codes DECODE as of r9; see the interop
    tests above. Palette-specific refusals live in
    test_vp8l_palette_refusals.)"""
    import struct

    import numpy as np
    import pytest

    from sparkga1_spark.operators.multimodal import (
        _Vp8lWriter,
        _webp_chunk,
        build_webp_lossless,
        parse_vp8l,
        parse_webp_pixels,
    )

    def stream(setup):
        bw = _Vp8lWriter()
        bw.put(0, 14)  # w=1
        bw.put(0, 14)  # h=1
        bw.put(0, 1)
        bw.put(0, 3)
        setup(bw)
        return bytes([0x2F]) + bw.bytes()

    def dup(bw):
        for _ in range(2):
            bw.put(1, 1)
            bw.put(2, 2)  # subtract-green twice
    with pytest.raises(ValueError, match="duplicate transform"):
        parse_vp8l(stream(dup))

    # predictor tile raster whose green channel names mode 14: refuse —
    # hand-assemble a 4x4 predictor-coded stream with a forged tile
    from sparkga1_spark.operators import multimodal as _mm

    res, _ = _mm._vp8l_predictor_forward(
        [0xFF000000] * 16, 4, 4, 2, lambda bx, by: 1
    )
    bw = _mm._Vp8lWriter()
    bw.put(3, 14)  # w=4
    bw.put(3, 14)  # h=4
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(1, 1)
    bw.put(0, 2)  # PREDICTOR
    bw.put(0, 3)  # size_bits=2 -> one 4x4 tile
    _mm._vp8l_write_entropy_image(
        bw, [0xFF000000 | (14 << 8)], 0, is_level0=False
    )
    bw.put(0, 1)  # no more transforms
    _mm._vp8l_write_entropy_image(bw, res, 0, is_level0=True)
    with pytest.raises(ValueError, match="predictor mode"):
        parse_vp8l(bytes([0x2F]) + bw.bytes())

    def meta_truncated(bw):
        bw.put(0, 1)  # no transforms
        bw.put(0, 1)  # no cache
        bw.put(1, 1)  # meta-huffman present (in-subset as of r8) ...
        # ... but the stream ends before the group image: truncation
    with pytest.raises(ValueError, match="truncated"):
        parse_vp8l(stream(meta_truncated))

    with pytest.raises(ValueError, match="version"):
        parse_vp8l(bytes([0x2F]) + b"\x00\x00\x00\xe0")

    with pytest.raises(ValueError, match="signature"):
        parse_vp8l(bytes([0x2F, 0, 0]))  # shorter than the fixed header
    with pytest.raises(ValueError, match="truncated"):
        parse_vp8l(bytes([0x2F, 0, 0, 0, 0]))  # header only, no stream bits

    # plane-code distance mapping OUT OF BOUNDS: dist_code 5 derives
    # to offset (0, 2) → dist 4 at w=2, but the backref sits at pos=1 —
    # the decoder must refuse on bounds, never wrap (plane codes
    # themselves DECODE as of r9; see
    # test_vp8l_plane_code_hand_built_anchors)
    bw = _Vp8lWriter()
    bw.put(1, 14)  # w=2
    bw.put(1, 14)  # h=2
    bw.put(0, 1)
    bw.put(0, 3)
    bw.put(0, 1)  # no transforms
    bw.put(0, 1)  # no cache
    bw.put(0, 1)  # single group
    # green: normal code, symbols 0 and 256 at length 1
    bw.put(0, 1)  # not simple
    bw.put(15, 4)  # num_code_lengths = 19
    cl_lengths = {0: 2, 1: 3, 17: 1, 18: 3}  # Kraft-complete
    for sym in _REF_CL_ORDER:
        bw.put(cl_lengths.get(sym, 0), 3)
    bw.put(0, 1)  # no max_symbol
    # canonical: 17->'0', 0->'10', 1->'110', 18->'111'
    bw.put_code(0b110, 3)  # cl symbol 1: lengths[0] = 1
    bw.put_code(0b111, 3)  # cl symbol 18: zero-run 11+take(7), max 138
    bw.put(127, 7)         # 138 zeros (green symbols 1..138)
    bw.put_code(0b111, 3)
    bw.put(106, 7)         # 117 zeros (green symbols 139..255)
    bw.put_code(0b110, 3)  # cl symbol 1: lengths[256] = 1
    bw.put_code(0b111, 3)  # trailing zeros for symbols 257..279
    bw.put(12, 7)          # 23 zeros = 11 + 12
    for _ in range(3):  # red/blue/alpha: simple 1-symbol 0 (1-bit field)
        bw.put(1, 1)
        bw.put(0, 1)
        bw.put(0, 1)
        bw.put(0, 1)
    bw.put(1, 1)  # distance: simple 1-symbol = 4 (needs 8-bit field)
    bw.put(0, 1)
    bw.put(1, 1)
    bw.put(4, 8)
    # pixels: literal (green code '0' = symbol 0), then backref
    # (green '1' = 256 → length 1; dist tree zero bits → code 4 →
    # dist_code = 5 <= 120 → refusal)
    bw.put_code(0, 1)  # literal pixel
    bw.put_code(1, 1)  # backref
    bw.put(0, 1)       # prefix-code-4 extra bit -> dist_code 5 (plane range)
    body = bytes([0x2F]) + bw.bytes()
    with pytest.raises(ValueError, match="before start"):
        parse_vp8l(body)

    # the legacy header-only lossy fixture (md5 filler, not a real
    # bitstream) must still refuse under the r9 REAL subset decoder —
    # its first-partition size field points past the payload
    from sparkga1_spark.operators.multimodal import build_webp

    with pytest.raises(ValueError, match="vp8"):
        parse_webp_pixels(build_webp(4, 4, variant="VP8", filler=b"x" * 16))

    # encoder input validation
    with pytest.raises(ValueError, match="HxWx3"):
        build_webp_lossless(np.zeros((4, 4), np.uint8))
    with pytest.raises(ValueError, match="cache"):
        build_webp_lossless(np.zeros((2, 2, 3), np.uint8), cache_bits=12)
    # struct import used by the RIFF walk sanity below
    data = build_webp_lossless(np.zeros((2, 2, 3), np.uint8))
    assert struct.unpack("<I", data[4:8])[0] == len(data) - 8


def test_vp8l_zero_bit_simple_codes():
    """A 1x1 image: every tree is a 1-symbol simple code, so the pixel
    stream consumes ZERO bits (the libwebp convention) — a decoder
    that charges one bit per 1-symbol code desyncs here."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_webp_lossless,
        parse_webp_pixels,
    )

    px = np.array([[[10, 20, 30]]], np.uint8)
    data = build_webp_lossless(px)
    w, h, out = parse_webp_pixels(data)
    assert (w, h) == (1, 1) and np.array_equal(out, px)
    rw, rh, ref = _ref_vp8l_decode(data)
    assert (rw, rh) == (1, 1) and ref == [(10, 20, 30)]


def test_vp8l_refuses_decompression_bomb_header():
    """A 5-byte VP8L body can declare 16384x16384 (2^28 pixels, 4x the
    module cap) — the raster-size guard must refuse BEFORE allocating
    the output list (review-caught: parse_vp8l was the one compressed
    decode path missing _check_raster_size)."""
    import pytest as _pytest

    from sparkga1_spark.operators.multimodal import parse_vp8l

    # sig 0x2f, then 28 one-bits LSB-first = w-1 = h-1 = 16383
    body = bytes([0x2F, 0xFF, 0xFF, 0xFF, 0x0F])
    with _pytest.raises(ValueError, match="(?i)raster|VP8L"):
        parse_vp8l(body)


def test_vp8l_exhaustive_truncation_valueerror_only():
    """EVERY byte prefix of a transform-rich VP8L file (meta groups +
    predictor + color transform + cache) and of a palette+meta file
    must either parse or raise ValueError — never IndexError /
    struct.error / KeyError (the FLAC/JPEG exhaustive-truncation
    precedent, extended to the r8 transform surface: truncation can now
    land inside a tile sub-image, a palette delta stream, or a
    mid-group tree — and, r9, inside a plane-coded backreference: the
    third arm repeats vertically so the encoder emits above-row plane
    codes)."""
    import numpy as np
    import pytest

    from sparkga1_spark.operators.multimodal import (
        build_webp_lossless,
        parse_webp_pixels,
    )

    rng = np.random.default_rng(77)
    px = rng.integers(0, 256, (9, 11, 3), dtype=np.uint8)
    colors = np.unique(rng.integers(0, 256, (10, 3), dtype=np.uint8), axis=0)
    pxp = colors[rng.integers(0, len(colors), (7, 9))]
    del pytest
    pxv = np.repeat(px[:1], 8, axis=0)  # vertical runs → plane codes
    pxv[4, 5, 0] ^= 0x3C
    for data in (
        build_webp_lossless(
            px, cache_bits=4, predictor_bits=2, color_bits=3,
            meta_bits=2, meta_groups=3,
        ),
        build_webp_lossless(pxp, palette=True, meta_bits=2),
        build_webp_lossless(pxv, cache_bits=4, plane_codes=True),
        build_webp_lossless(  # r9: palette COMBINED with transforms
            pxp, palette=True, predictor_bits=2, sub_green=True,
            cache_bits=4,
        ),
    ):
        parse_webp_pixels(data)  # sanity: the intact file decodes
        n_ok = 0
        for i in range(len(data)):
            try:
                parse_webp_pixels(data[:i])
                n_ok += 1  # legal: the cut removed only RIFF padding
            except ValueError:
                pass  # the ONE allowed failure mode
        # only a trailing-pad cut may succeed — a handful at most
        assert n_ok <= 2, f"{n_ok} truncated prefixes decoded"


def test_vp8l_plane_offset_table_derivations_agree():
    """r9: the 120-entry near-distance plane-code map is DERIVED from
    the spec's neighborhood-by-proximity rule in BOTH in-repo sides —
    the engine sorts a differently-built candidate list with a lambda
    key, the reference sorts plain tuples — and the two independent
    constructions must agree exactly (the two-sided check a transcribed
    literal could never give). Head anchors pin the convention to the
    two publicly documented entries: code 1 is the pixel directly
    ABOVE, code 2 the pixel directly LEFT."""
    from sparkga1_spark.operators.multimodal import _vp8l_plane_offsets

    eng = list(_vp8l_plane_offsets())
    ref = _ref_plane_offsets()
    assert eng == ref
    assert len(eng) == 120 == len(set(eng))
    assert eng[0] == (0, 1)  # code 1: pixel above
    assert eng[1] == (1, 0)  # code 2: pixel left
    for dx, dy in eng:
        assert 0 <= dy <= 7 and -7 <= dx <= 8
        if dy == 0:
            assert 1 <= dx <= 8  # same-row entries are strictly left
    d2 = [dx * dx + dy * dy for dx, dy in eng]
    assert d2 == sorted(d2)  # proximity-monotone along codes


def _hand_vp8l_stream(w, h, toks, dsym):
    """Hand-assembled single-group VP8L stream: green = normal code
    over {0 (literal), 256 (length-1 backref)}, red = simple 2-symbol
    {0, 7}, blue/alpha = simple 1-symbol {0}, distance = simple
    1-symbol {dsym}. toks: ("lit", r) or ("ref", extra, n_extra)."""
    from sparkga1_spark.operators.multimodal import _Vp8lWriter

    bw = _Vp8lWriter()
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)  # alpha
    bw.put(0, 3)  # version
    bw.put(0, 1)  # no transforms
    bw.put(0, 1)  # no cache
    bw.put(0, 1)  # no meta groups
    # green: normal code, lengths[0] = lengths[256] = 1
    bw.put(0, 1)
    bw.put(15, 4)  # num_code_lengths = 19
    cl = {0: 2, 1: 3, 17: 1, 18: 3}
    for sym in _REF_CL_ORDER:
        bw.put(cl.get(sym, 0), 3)
    bw.put(0, 1)  # no max_symbol budget
    bw.put_code(0b110, 3)  # lengths[0] = 1
    bw.put_code(0b111, 3)
    bw.put(127, 7)  # 138 zeros
    bw.put_code(0b111, 3)
    bw.put(106, 7)  # 117 zeros → next symbol is 256
    bw.put_code(0b110, 3)  # lengths[256] = 1
    bw.put_code(0b111, 3)
    bw.put(12, 7)  # 23 trailing zeros → 280
    # red: simple 2-symbol {0, 7}
    bw.put(1, 1)
    bw.put(1, 1)
    bw.put(0, 1)
    bw.put(0, 1)  # s0 = 0 (1-bit field)
    bw.put(7, 8)  # s1 = 7
    for _ in range(2):  # blue, alpha: simple 1-symbol 0
        bw.put(1, 1)
        bw.put(0, 1)
        bw.put(0, 1)
        bw.put(0, 1)
    # distance: simple 1-symbol = dsym
    bw.put(1, 1)
    bw.put(0, 1)
    bw.put(1, 1)
    bw.put(dsym, 8)
    for t in toks:
        if t[0] == "lit":
            bw.put_code(0, 1)  # green '0' → literal
            bw.put_code(0 if t[1] == 0 else 1, 1)  # red
            # blue/alpha: single-symbol trees read zero bits
        else:
            bw.put_code(1, 1)  # green '1' → 256 → length 1
            _, extra, n_extra = t
            if n_extra:
                bw.put(extra, n_extra)
    return bytes([0x2F]) + bw.bytes()


def test_vp8l_plane_code_hand_built_anchors():
    """r9: hand-written bitstreams with hand-computed expected pixels
    pin plane-code SEMANTICS independently of both derivations' code —
    the above-copy (code 1), the left-copy (code 2), a beyond-head
    entry ((0,2) = code 5 at w=2 → dist 4), and the dist<1 clamp
    ((-7,1) at w=2 → -5 → clamped to 1). Engine and reference must
    agree with the hand-computed rasters."""
    import struct as _struct

    from sparkga1_spark.operators import multimodal as _mm
    from sparkga1_spark.operators.multimodal import (
        _vp8l_plane_offsets,
        _vp8l_prefix_code,
        parse_vp8l,
    )

    def container(body):
        chunk = _mm._webp_chunk(b"VP8L", body)
        return b"RIFF" + _struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    P0, P7 = (0, 0, 0), (7, 0, 0)
    clamp_code = list(_vp8l_plane_offsets()).index((-7, 1)) + 1
    csym, cextra, cn = _vp8l_prefix_code(clamp_code)
    cases = [
        # (w, h, dsym, toks, expected rgb row-major)
        (2, 2, 0, [("lit", 0), ("lit", 7), ("ref", 0, 0), ("ref", 0, 0)],
         [P0, P7, P0, P7]),  # code 1 = above → dist 2 at w=2
        (2, 2, 1, [("lit", 0), ("lit", 7), ("ref", 0, 0), ("ref", 0, 0)],
         [P0, P7, P7, P7]),  # code 2 = left → dist 1
        (2, 3, 4, [("lit", 0), ("lit", 7), ("lit", 7), ("lit", 0),
                   ("ref", 0, 1), ("ref", 0, 1)],
         [P0, P7, P7, P0, P0, P7]),  # code 5 = (0,2) → dist 4
        (2, 2, csym, [("lit", 0), ("lit", 7), ("ref", cextra, cn),
                      ("ref", cextra, cn)],
         [P0, P7, P7, P7]),  # (-7,1) at w=2 → dist -5 → clamp to 1
    ]
    for w, h, dsym, toks, exp in cases:
        body = _hand_vp8l_stream(w, h, toks, dsym)
        gw, gh, alpha, argb = parse_vp8l(body)
        assert (gw, gh) == (w, h)
        got = [((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF) for p in argb]
        assert got == exp, (dsym, got, exp)
        rw, rh, ref = _ref_vp8l_decode(container(body))
        assert (rw, rh) == (w, h) and ref == exp


def test_vp8l_plane_coded_encoder_matches_reference():
    """r9: the encoder's plane_codes mode (dist-1 runs as their
    smallest plane code + the above-row dist-width matcher) must
    interop — engine decoder == independent reference == source — on
    vertically-correlated rasters across widths (the (0,1) code maps
    to a DIFFERENT distance at every width), cache settings, and every
    transform arm, and must actually emit codes <= 120."""
    import numpy as np

    from sparkga1_spark.operators import multimodal as _mm
    from sparkga1_spark.operators.multimodal import (
        build_webp_lossless,
        parse_webp_pixels,
    )

    rng = np.random.default_rng(19)
    rasters = []
    for w in (1, 3, 9, 17, 30):
        base = rng.integers(0, 5, (1, w, 3), dtype=np.uint8) * 40
        px = np.repeat(base, 7, axis=0)
        px[3, w // 2, 1] ^= 0x55  # break pure verticality
        rasters.append(px)
    arms = [{}, {"cache_bits": 5}, {"predictor_bits": 2}, {"color_bits": 2},
            {"palette": True}, {"meta_bits": 2}]
    seen_plane_code = False
    orig = _mm._vp8l_plane_dist
    calls = []
    _mm._vp8l_plane_dist = lambda c, w: (calls.append(c), orig(c, w))[1]
    try:
        for px in rasters:
            for kw in arms:
                px2 = (px & 0xC0) if kw.get("palette") else px
                data = build_webp_lossless(px2, plane_codes=True, **kw)
                calls.clear()
                w, h, eng = parse_webp_pixels(data)
                if calls:
                    seen_plane_code = True
                rw, rh, ref = _ref_vp8l_decode(data)
                assert (w, h) == (rw, rh) == (px2.shape[1], px2.shape[0])
                assert [tuple(p) for p in eng.reshape(-1, 3)] == ref
                assert np.array_equal(eng, px2)
    finally:
        _mm._vp8l_plane_dist = orig
    assert seen_plane_code, "no plane code was ever decoded"


def test_mp4_mdat_before_moov_layout():
    """The COMMON live-recording layout puts mdat BEFORE moov (the
    muxer can't know the sample tables until recording ends). The box
    walk must be order-independent: reordering a multi-chunk file to
    ftyp+mdat+moov (with the stco offsets rebased for the move) must
    demux to byte-identical samples."""
    import struct

    from sparkga1_spark.operators.multimodal import (
        build_mp4_meta,
        parse_mp4_samples,
    )

    sizes = [5, 17, 200, 1, 33, 9, 2, 40, 11]
    b = build_mp4_meta(64, 48, sizes, sample_delta=25,
                       chunks=[1, 4, 4], chunk_gap=6)
    boxes, pos = [], 0
    while pos < len(b):
        sz = struct.unpack_from(">I", b, pos)[0]
        boxes.append((b[pos + 4 : pos + 8], b[pos : pos + sz]))
        pos += sz
    ftyp = next(x for t, x in boxes if t == b"ftyp")
    moov = next(x for t, x in boxes if t == b"moov")
    mdat = next(x for t, x in boxes if t == b"mdat")
    moov2 = bytearray(moov)
    sc = moov2.find(b"stco")
    n = struct.unpack_from(">I", moov2, sc + 8)[0]
    for i in range(n):
        off = sc + 12 + 4 * i
        v = struct.unpack_from(">I", moov2, off)[0]
        struct.pack_into(">I", moov2, off, v - len(moov))
    reordered = ftyp + mdat + bytes(moov2)
    got = parse_mp4_samples(reordered)
    ref = parse_mp4_samples(b)
    assert [(i, t, bytes(x)) for i, t, x in got] == [
        (i, t, bytes(x)) for i, t, x in ref
    ]


def test_jpeg_lossless_roundtrip_all_predictors():
    """SOF3 lossless (T.81 Annex H, r11): decode(encode(x)) == x
    EXACTLY for arbitrary content — every predictor 1-7, gray and
    3-component, point transform, DRI/RSTn restarts (incl. mid-line
    resets), and 12/16-bit precision. No lossless-capable independent
    codec exists in this image (the system libjpeg.so.62 is the 8-bit
    v6b ABI; lossless only arrived in libjpeg-turbo 3.0), so the
    oracle here is the lossless CONTRACT itself plus the hand-built
    known-answer stream in test_jpeg_lossless_known_answer."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_lossless,
        parse_jpeg,
    )

    rng = np.random.default_rng(7)
    for pred in range(1, 8):
        for pt, comps, dri in ((0, 1, 0), (0, 3, 0), (2, 1, 0), (0, 1, 5)):
            shape = (13, 17) if comps == 1 else (13, 17, comps)
            img = rng.integers(0, 256, shape, dtype=np.int64)
            blob = build_jpeg_lossless(
                img, predictor=pred, point_transform=pt, restart_interval=dri
            )
            w, h, px = parse_jpeg(blob)
            want = (img >> pt) << pt
            if want.ndim == 2:
                want = want[:, :, None]
            assert (w, h) == (17, 13)
            assert px.dtype == np.uint8
            assert (px.astype(np.int64) == want).all(), (pred, pt, comps, dri)

    # 16-bit: mod-2^16 difference arithmetic exercised by full-range
    # content (diffs wrap; category 16 = the no-extra-bits 32768)
    img16 = rng.integers(0, 1 << 16, (9, 11), dtype=np.int64)
    w, h, px = parse_jpeg(build_jpeg_lossless(img16, predictor=4, precision=16))
    assert px.dtype == np.uint16
    assert (px[:, :, 0].astype(np.int64) == img16).all()
    # force the 32768 symbol explicitly: consecutive samples 0, 32768
    imgx = np.array([[0, 32768, 0, 32768]])
    w, h, px = parse_jpeg(build_jpeg_lossless(imgx, predictor=1, precision=16))
    assert (px[:, :, 0].astype(np.int64) == imgx).all()

    img12 = rng.integers(0, 4096, (8, 8), dtype=np.int64)
    w, h, px = parse_jpeg(build_jpeg_lossless(img12, predictor=7, precision=12))
    assert px.dtype == np.uint16
    assert (px[:, :, 0].astype(np.int64) == img12).all()


def test_jpeg_lossless_known_answer():
    """Hand-assembled SOF3 stream (every byte written out from the
    T.81 text, NOT via the encoder) must decode to the hand-predicted
    samples; and the encoder must emit the hand-packed entropy bytes.
    Image [[100,102],[103,101]], predictor 1, Pt 0: diffs are
    -28 (cat 5, code 00101 bits 00011), +2 (cat 2, code 00010 bits
    10), +3 (via predictor 2 at line start: 00010 bits 11), -2
    (00010 bits 01) → packed 0x28 0xC5 0x0B 0x13."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_lossless,
        parse_jpeg,
    )

    dht = bytes([0x00]) + bytes(
        (0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    ) + bytes(range(17))
    stream = (
        b"\xff\xd8"
        + b"\xff\xc3" + (11).to_bytes(2, "big")  # SOF3, 1 comp, 2x2, P=8
        + bytes([8]) + (2).to_bytes(2, "big") + (2).to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
        + b"\xff\xc4" + (2 + len(dht)).to_bytes(2, "big") + dht
        + b"\xff\xda" + (8).to_bytes(2, "big")
        + bytes([1, 1, 0x00, 1, 0, 0])  # Ss=1 (predictor), Se=0, Pt=0
        + bytes([0x28, 0xC5, 0x0B, 0x13])
        + b"\xff\xd9"
    )
    w, h, px = parse_jpeg(stream)
    assert (w, h) == (2, 2)
    assert px[:, :, 0].tolist() == [[100, 102], [103, 101]]

    blob = build_jpeg_lossless(np.array([[100, 102], [103, 101]]), predictor=1)
    sos = blob.find(b"\xff\xda")
    ln = int.from_bytes(blob[sos + 2 : sos + 4], "big")
    assert blob[sos + 2 + ln : blob.rfind(b"\xff\xd9")] == bytes(
        [0x28, 0xC5, 0x0B, 0x13]
    )


def test_jpeg_lossless_multiscan_and_refusals():
    """Non-interleaved lossless (one SOS per component — the DNG-style
    layout) decodes; malformed lossless scans and the still-refused
    frame types raise ValueError (never the fake claiming real)."""
    import numpy as np
    import pytest

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_lossless,
        parse_jpeg,
    )

    # splice two single-component scans into one 2-component frame:
    # per-scan prediction is independent, so each plane's entropy
    # bytes equal its single-component encode's
    rng = np.random.default_rng(11)
    planes = [rng.integers(0, 256, (5, 7), dtype=np.int64) for _ in range(2)]
    parts = []
    for plane in planes:
        blob = build_jpeg_lossless(plane, predictor=5)
        sos = blob.find(b"\xff\xda")
        parts.append(blob[sos : blob.rfind(b"\xff\xd9")])
    dht = bytes([0x00]) + bytes(
        (0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    ) + bytes(range(17))
    sof = bytes([8]) + (5).to_bytes(2, "big") + (7).to_bytes(2, "big")
    sof += bytes([2, 1, 0x11, 0, 2, 0x11, 0])
    scan1 = bytearray(parts[0])
    scan2 = bytearray(parts[1])
    scan2[5] = 2  # second scan selects component id 2
    stream = (
        b"\xff\xd8"
        + b"\xff\xc3" + (2 + len(sof)).to_bytes(2, "big") + sof
        + b"\xff\xc4" + (2 + len(dht)).to_bytes(2, "big") + dht
        + bytes(scan1)
        + bytes(scan2)
        + b"\xff\xd9"
    )
    w, h, px = parse_jpeg(stream)
    assert (w, h) == (7, 5)
    assert (px[:, :, 0].astype(np.int64) == planes[0]).all()
    assert (px[:, :, 1].astype(np.int64) == planes[1]).all()

    good = build_jpeg_lossless(np.arange(64).reshape(8, 8) * 2)
    sos = good.find(b"\xff\xda")

    bad = bytearray(good)
    bad[sos + 7] = 0  # Ss=0: no predictor selected
    with pytest.raises(ValueError, match="predictor"):
        parse_jpeg(bytes(bad))

    bad = bytearray(good)
    bad[sos + 8] = 3  # Se must be 0 in lossless scans
    with pytest.raises(ValueError, match="Se=0"):
        parse_jpeg(bytes(bad))

    bad = bytearray(good)
    bad[sos + 9] = 9  # Pt >= precision
    with pytest.raises(ValueError, match="point transform"):
        parse_jpeg(bytes(bad))

    # partial-interleave lossless scan (1 < ns < frame components) is
    # refused rather than mis-decoded with frame-derived MCU geometry
    # (T.81 A.2.3 defines interleaved MCUs over the SCAN's subset —
    # r11 ADVICE; no in-repo encoder emits this layout)
    rgb = np.repeat(planes[0][:, :, None], 3, axis=2)
    cblob = build_jpeg_lossless(rgb, predictor=2)
    csos = cblob.find(b"\xff\xda")
    assert cblob[csos + 4] == 3  # interleaved 3-component scan
    bad = bytearray(cblob)
    del bad[csos + 9 : csos + 11]  # drop the third (cs, td) pair
    bad[csos + 3] = 10  # Ls: 12 -> 10
    bad[csos + 4] = 2  # ns: 3 -> 2
    with pytest.raises(ValueError, match="partial-interleave"):
        parse_jpeg(bytes(bad))

    # differential frames outside a DHP stream and arithmetic-lossless
    # frames are refused (hierarchical itself decodes as of r12)
    for marker in (0xC5, 0xC7, 0xCB, 0xCE):
        bad = bytearray(good)
        bad[good.find(b"\xff\xc3") + 1] = marker
        with pytest.raises(ValueError, match="differential|arith-lossless"):
            parse_jpeg(bytes(bad))

    # truncated entropy + EOI before all components decoded
    with pytest.raises(ValueError, match="underrun|truncated|terminating"):
        parse_jpeg(good[:-4])


def test_jpeg_ext12_flat_exact_and_error_bounds():
    """12-bit extended sequential (SOF1, r11): constant 8×8 blocks of
    ANY 12-bit value round-trip EXACTLY (DC = 8·(v−2048) is an exact
    float64 integer at quant 1 — the closed-form-oracle convention),
    arbitrary content stays within 1 LSB of IDCT rounding, odd
    dimensions pad/crop correctly, and the output dtype widens to
    uint16. The system libjpeg (8-bit v6b ABI) can neither produce
    nor consume 12-bit streams, so the oracle is the analytic flat-
    block closed form plus the encoder/decoder error bound."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_ext12,
        parse_jpeg,
        parse_jpeg_meta,
    )

    rng = np.random.default_rng(3)
    vals = rng.integers(0, 4096, (3, 5))
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    blob = build_jpeg_ext12(img)
    assert parse_jpeg_meta(blob) == (40, 24, 1)
    w, h, px = parse_jpeg(blob)
    assert px.dtype == np.uint16
    assert (px[:, :, 0].astype(np.int64) == img).all()
    # closed form: px_sum = 64 * sum(vals)
    assert int(px.sum(dtype=np.int64)) == 64 * int(vals.sum())

    img = rng.integers(0, 4096, (13, 19))
    w, h, px = parse_jpeg(build_jpeg_ext12(img))
    assert (w, h) == (19, 13)
    assert np.abs(px[:, :, 0].astype(np.int64) - img).max() <= 1

    # a non-trivial quant table still decodes (values dequantized)
    q = np.ones(64, dtype=np.int32)
    q[0] = 16
    flat = np.full((8, 8), 2048 + 16 * 7)  # DC multiple of quant step
    w, h, px = parse_jpeg(build_jpeg_ext12(flat, quant=q))
    assert (px[:, :, 0] == flat).all()


def test_jpeg_ext12_refusals():
    """12-bit boundary pins: baseline SOF0 remains 8-bit-only per
    T.81 B.2.2, and a SOF1 stream flipped to SOF2 is a MALFORMED
    progressive stream (full-band sequential SOS) — still a refusal.
    (SOF2/SOF9/SOF10 at 12-bit all DECODE as of r11 — see
    test_jpeg_ext12_progressive_matches_sequential and
    test_jpeg_12bit_arithmetic_matches_huffman.)"""
    import numpy as np
    import pytest

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_ext12,
        parse_jpeg,
    )

    good = build_jpeg_ext12(np.zeros((8, 8), dtype=int))
    sof = good.find(b"\xff\xc1")
    bad = bytearray(good)
    bad[sof + 1] = 0xC0  # baseline frames are 8-bit by definition
    with pytest.raises(ValueError, match="8-bit only"):
        parse_jpeg(bytes(bad))
    bad = bytearray(good)
    bad[sof + 1] = 0xC2  # 12-bit progressive DECODES (r11) — but this
    with pytest.raises(ValueError, match="Se=0"):  # SOS is malformed
        parse_jpeg(bytes(bad))


def test_jpeg_12bit_arithmetic_matches_huffman():
    """12-bit ARITHMETIC (SOF9 sequential + SOF10 progressive, r11):
    the QM coder's magnitude chains are precision-independent below
    their corrupt-stream guards, so arithmetic and Huffman encodes of
    the same 12-bit quantized coefficients must decode to IDENTICAL
    uint16 rasters — across spectral-selection-only, full successive
    approximation, and restart intervals (the entropy-layer
    equivalence pin the 8-bit family gets from libjpeg, restated
    in-repo because the system libjpeg has no 12-bit build)."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_arith,
        build_jpeg_arith_progressive,
        build_jpeg_ext12,
        parse_jpeg,
    )

    rng = np.random.default_rng(31)
    for shape in [(8, 8), (13, 19), (24, 40)]:
        img = rng.integers(0, 4096, shape)
        seq = parse_jpeg(build_jpeg_ext12(img))[2]
        a9 = parse_jpeg(build_jpeg_arith(img, precision=12))[2]
        assert a9.dtype == np.uint16
        assert (a9 == seq).all(), ("SOF9@12", shape)
        a9r = parse_jpeg(
            build_jpeg_arith(img, precision=12, restart_interval=4)
        )[2]
        assert (a9r == seq).all()
        for succ in (False, True):
            for dri in (0, 3):
                a10 = parse_jpeg(
                    build_jpeg_arith_progressive(
                        img, precision=12, successive=succ,
                        restart_interval=dri,
                    )
                )[2]
                assert (a10 == seq).all(), ("SOF10@12", shape, succ, dri)

    vals = rng.integers(0, 4096, (2, 3))
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    px = parse_jpeg(build_jpeg_arith(img, precision=12))[2]
    assert int(px.sum(dtype=np.int64)) == 64 * int(vals.sum())


def test_jpeg_ext12_progressive_matches_sequential():
    """12-bit PROGRESSIVE (SOF2 at precision 12, r11): the progressive
    scan scripts are precision-independent, so a progressive and a
    sequential encode of the same 12-bit pixels — sharing the exact
    quantized coefficients — must decode to IDENTICAL uint16 rasters,
    across spectral-selection-only, full successive approximation, and
    restart intervals; flat blocks keep the closed form exactly."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_ext12,
        build_jpeg_progressive,
        parse_jpeg,
    )

    rng = np.random.default_rng(29)
    for shape in [(8, 8), (13, 19), (24, 40)]:
        img = rng.integers(0, 4096, shape)
        seq = parse_jpeg(build_jpeg_ext12(img))[2]
        for succ in (False, True):
            for dri in (0, 3):
                prog = parse_jpeg(
                    build_jpeg_progressive(
                        img, precision=12, successive=succ,
                        restart_interval=dri,
                    )
                )[2]
                assert prog.dtype == np.uint16
                assert (prog == seq).all(), (shape, succ, dri)

    vals = rng.integers(0, 4096, (2, 3))
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    px = parse_jpeg(
        build_jpeg_progressive(img, precision=12, successive=True)
    )[2]
    assert (px[:, :, 0].astype(np.int64) == img).all()
    assert int(px.sum(dtype=np.int64)) == 64 * int(vals.sum())


def test_planter_rotation_includes_lossless_and_12bit_classes():
    """plant_jpeg_real_payloads ids %16==0 carry SOF3 lossless and ids
    %16==4 carry 12-bit SOF1 streams (r11) that decode exactly — the
    gate row's closed-form oracle is unchanged because both classes
    are exact on the tiled content."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_ext12,
        build_jpeg_lossless,
        build_jpeg_progressive,
        parse_jpeg,
    )

    # builder-level replica of the planter's %16==0 / %16==4 arms
    # (%32==20 sub-rotates 12-bit PROGRESSIVE with SA + restarts)
    for d, text in [(0, "hello"), (16, "predictor two"), (32, "third"),
                    (4, "twelve bits"), (20, "wide gamut"),
                    (36, "seq again")]:
        wb, hb = d % 5 + 1, d % 3 + 1
        raw = text.encode()
        vals = np.resize(np.frombuffer(raw, np.uint8), (hb, wb))
        img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
        if d % 16 == 0:
            blob = build_jpeg_lossless(img, predictor=(d // 16) % 7 + 1)
            assert b"\xff\xc3" in blob
        elif d % 32 == 20:
            blob = build_jpeg_progressive(
                img, precision=12, successive=True, restart_interval=2
            )
            assert b"\xff\xdd" in blob
            assert blob[blob.find(b"\xff\xc2") + 4] == 12
        else:
            blob = build_jpeg_ext12(img)
            assert b"\xff\xc1" in blob and blob[blob.find(b"\xff\xc1") + 4] == 12
        w, h, px = parse_jpeg(blob)
        assert px.shape == (8 * hb, 8 * wb, 1)
        assert int(px.astype(np.int64).sum()) == 64 * int(
            vals.astype(np.int64).sum()
        )


def test_planter_rotation_includes_arith12_classes():
    """plant_jpeg_real_payloads ids %32==2 / %32==6 carry 12-BIT
    arithmetic streams as of r12 (SOF9 sequential / SOF10 progressive
    with SA + restarts), while the other %4==2 slots stay 8-bit — the
    gate row's closed-form oracle is unchanged because flat blocks are
    exact at either precision."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_arith,
        build_jpeg_arith_progressive,
        parse_jpeg,
    )

    # builder-level replica of the planter's %4==2 arm incl. the r12
    # precision sub-rotation
    for d, text in [(2, "arith twelve"), (6, "prog twelve"),
                    (10, "arith eight"), (14, "prog eight"),
                    (34, "twelve again"), (38, "ten at twelve")]:
        wb, hb = d % 5 + 1, d % 3 + 1
        vals = np.resize(np.frombuffer(text.encode(), np.uint8), (hb, wb))
        img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
        prec = 12 if d % 32 in (2, 6) else 8
        if d % 8 == 6:
            blob = build_jpeg_arith_progressive(
                img, successive=True, restart_interval=2, precision=prec
            )
            sof = blob.find(b"\xff\xca")
        else:
            blob = build_jpeg_arith(img, precision=prec)
            sof = blob.find(b"\xff\xc9")
        assert sof >= 0 and blob[sof + 4] == prec
        w, h, px = parse_jpeg(blob)
        assert px.dtype == (np.uint16 if prec == 12 else np.uint8)
        assert px.shape == (8 * hb, 8 * wb, 1)
        assert int(px.astype(np.int64).sum()) == 64 * int(
            vals.astype(np.int64).sum()
        )


def test_planter_rotation_includes_hierarchical_classes():
    """plant_jpeg_real_payloads ids %32==8 carry HIERARCHICAL lossless
    pyramids (DHP + SOF3 base + EXP + differential SOF7; %64==40 as a
    deeper 12-bit pyramid with restarts) and ids %32==24 the
    hierarchical DCT quality ladder (SOF0 base + differential SOF5) as
    of r13, while %16==12 stays plain baseline — the gate row's
    closed-form oracle is unchanged because the lossless pyramid is
    exact on any content and the DCT ladder is exact on flat tiles."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_baseline,
        build_jpeg_hierarchical,
        parse_jpeg,
    )

    # builder-level replica of the planter's %4==0 hierarchical arm
    # incl. the %64 sub-rotation (r13)
    for d, text in [(8, "pyramid eight"), (40, "twelve pyramid"),
                    (72, "pyramid again"), (24, "dct ladder"),
                    (56, "ladder restarts"), (88, "ladder again"),
                    (12, "still baseline"), (28, "baseline too")]:
        wb, hb = d % 5 + 1, d % 3 + 1
        vals = np.resize(np.frombuffer(text.encode(), np.uint8), (hb, wb))
        img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
        if d % 32 == 8:
            if d % 64 == 40:
                blob = build_jpeg_hierarchical(
                    img, mode="lossless", levels=3, precision=12,
                    restart_interval=2,
                )
                prec = 12
            else:
                blob = build_jpeg_hierarchical(img, mode="lossless",
                                               levels=2)
                prec = 8
            # DHP pyramid header + differential lossless frame(s)
            assert blob.find(b"\xff\xde") > 0 and b"\xff\xc7" in blob
        elif d % 32 == 24:
            blob = build_jpeg_hierarchical(
                img, mode="dct",
                restart_interval=2 if d % 64 == 56 else 0,
            )
            prec = 8
            # DHP + SOF0 base + differential sequential DCT frame
            assert blob.find(b"\xff\xde") > 0 and b"\xff\xc5" in blob
        else:
            blob = build_jpeg_baseline(img)
            prec = 8
            assert b"\xff\xde" not in blob
        w, h, px = parse_jpeg(blob)
        assert px.dtype == (np.uint16 if prec == 12 else np.uint8)
        assert px.shape == (8 * hb, 8 * wb, 1)
        assert int(px.astype(np.int64).sum()) == 64 * int(
            vals.astype(np.int64).sum()
        )


def test_jpeg_lossless_and_ext12_bitflip_fuzz():
    """Adversarial robustness (the codec-family fuzz convention):
    flipping any single entropy bit of an SOF3 lossless or 12-bit SOF1
    stream must either decode to SOME bounded raster or refuse with
    ValueError — never crash, hang, or over-allocate (the mod-2^16
    difference arithmetic absorbs any diff; the category guard and the
    segment underrun/unconsumed checks bound the walk)."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_ext12,
        build_jpeg_lossless,
        parse_jpeg,
    )

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (10, 9), dtype=np.int64)
    for blob, dt in (
        (build_jpeg_lossless(img, predictor=4, restart_interval=7), "uint8"),
        (build_jpeg_ext12(rng.integers(0, 4096, (9, 10))), "uint16"),
    ):
        sos = blob.find(b"\xff\xda")
        ls = int.from_bytes(blob[sos + 2 : sos + 4], "big")
        start, end = sos + 2 + ls, len(blob) - 2
        for pos in range(start, end):
            for mask in (0x01, 0x80):
                bad = bytearray(blob)
                bad[pos] ^= mask
                try:
                    _w, _h, px = parse_jpeg(bytes(bad))
                    assert px.dtype.name == dt
                except ValueError:
                    pass
        # header-field fuzz: every byte of SOF and SOS flipped once
        for pos in list(range(2, 2 + 19)) + list(range(sos, sos + 2 + ls)):
            bad = bytearray(blob)
            bad[pos] ^= 0x55
            try:
                parse_jpeg(bytes(bad))
            except ValueError:
                pass


def test_jpeg_hierarchical_lossless_pyramid_roundtrip():
    """Hierarchical JPEG (T.81 Annex J, r12), lossless pyramid: SOF3
    base + EXP-expanded SOF7 differential frames reconstruct the input
    EXACTLY for ANY content — across dims, pyramid depths, precisions
    2..16, and restart intervals (the mod-2^16 differences repair
    whatever the encoder's downsampling filter lost)."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_hierarchical,
        parse_jpeg,
        parse_jpeg_meta,
    )

    rng = np.random.default_rng(7)
    for shape in [(8, 8), (13, 19), (24, 40), (5, 7), (1, 1)]:
        for prec, lv, dri in [(8, 2, 0), (8, 3, 3), (12, 2, 0),
                              (16, 3, 5), (2, 2, 0), (8, 1, 0)]:
            img = rng.integers(0, 1 << prec, shape, dtype=np.int64)
            blob = build_jpeg_hierarchical(
                img, mode="lossless", levels=lv, precision=prec,
                restart_interval=dri,
            )
            assert b"\xff\xde" in blob  # DHP
            assert b"\xff\xc3" in blob  # lossless base frame
            if lv > 1 and min(shape) > 1:
                assert b"\xff\xc7" in blob and b"\xff\xdf" in blob
            w, h, px = parse_jpeg(blob)
            assert (w, h) == (shape[1], shape[0])
            assert px.dtype == (np.uint8 if prec <= 8 else np.uint16)
            assert px.shape == (shape[0], shape[1], 1)
            assert (px[:, :, 0].astype(np.int64) == img).all(), (
                shape, prec, lv, dri,
            )
            assert parse_jpeg_meta(blob) == (shape[1], shape[0], 1)


def test_jpeg_hierarchical_dct_refinement():
    """Hierarchical DCT quality refinement: SOF0/SOF1 base (low bits
    zeroed — flat 8x8 tiles decode exactly) + ONE differential
    sequential SOF5 frame coding input minus the DECODED base at
    quant 1. Flat-tile content roundtrips EXACTLY (the closed-form
    oracle convention, incl. the 3x px_sum arithmetic); arbitrary
    content lands within 1 LSB of per-frame IDCT rounding. Restart
    intervals apply to both frames."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_hierarchical,
        parse_jpeg,
    )

    rng = np.random.default_rng(13)
    # flat-tile exactness at 8 and 12 bits, with and without restarts
    for prec in (8, 12):
        for dri in (0, 2) if prec == 8 else (0,):
            vals = rng.integers(0, 1 << prec, (3, 5))
            img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
            blob = build_jpeg_hierarchical(
                img, mode="dct", precision=prec, restart_interval=dri
            )
            assert b"\xff\xc5" in blob  # differential sequential frame
            assert (b"\xff\xc0" in blob) == (prec == 8)
            assert (b"\xff\xc1" in blob) == (prec == 12)
            w, h, px = parse_jpeg(blob)
            assert px.dtype == (np.uint8 if prec == 8 else np.uint16)
            assert (px[:, :, 0].astype(np.int64) == img).all(), (prec, dri)
            assert int(px.sum(dtype=np.int64)) == 64 * int(vals.sum())
    # arbitrary content: within 1 LSB
    for shape in [(8, 8), (13, 19), (24, 40)]:
        img = rng.integers(0, 256, shape, dtype=np.int64)
        px = parse_jpeg(build_jpeg_hierarchical(img, mode="dct"))[2]
        assert np.abs(px[:, :, 0].astype(np.int64) - img).max() <= 1
        img12 = rng.integers(0, 4096, shape, dtype=np.int64)
        px12 = parse_jpeg(
            build_jpeg_hierarchical(img12, mode="dct", precision=12)
        )[2]
        assert np.abs(px12[:, :, 0].astype(np.int64) - img12).max() <= 1
    # DCT resolution PYRAMID (levels > 1): exercises the EXP -> SOF5
    # decoder path (expansion before a DCT differential frame). Each
    # layer corrects against the exactly-tracked decoded reference, so
    # the final error is the LAST layer's own IDCT rounding only
    for shape in [(16, 24), (13, 19)]:
        img = rng.integers(0, 256, shape, dtype=np.int64)
        blob = build_jpeg_hierarchical(img, mode="dct", levels=3)
        assert blob.count(b"\xff\xc5") == 3 and blob.count(b"\xff\xdf") == 2
        px = parse_jpeg(blob)[2]
        assert np.abs(px[:, :, 0].astype(np.int64) - img).max() <= 1
    # globally-constant content is exact through the whole pyramid
    flat = np.full((24, 40), 177, dtype=np.int64)
    px = parse_jpeg(build_jpeg_hierarchical(flat, mode="dct", levels=3))[2]
    assert (px[:, :, 0] == 177).all()


def test_jpeg_hierarchical_refusals():
    """The hierarchical decoder's honest boundaries: color pyramids,
    differential progressive (SOF6) / arithmetic differential
    (SOF13-15), malformed EXP, duplicate DHP, point transform in
    differential lossless, and dims drift all refuse with precise
    messages — never a wrong raster."""
    import numpy as np
    import pytest

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_hierarchical,
        parse_jpeg,
    )

    rng = np.random.default_rng(19)
    img = rng.integers(0, 256, (10, 12), dtype=np.int64)
    good = build_jpeg_hierarchical(img, mode="lossless", levels=2)
    dhp = good.find(b"\xff\xde")

    bad = bytearray(good)
    bad[dhp + 9] = 3  # DHP ncomp: grayscale scope only
    with pytest.raises(ValueError, match="grayscale"):
        parse_jpeg(bytes(bad))

    bad = bytearray(good)
    bad[good.find(b"\xff\xc7") + 1] = 0xC6  # differential progressive
    with pytest.raises(ValueError, match="differential frame"):
        parse_jpeg(bytes(bad))

    bad = bytearray(good)
    bad[good.find(b"\xff\xc7") + 1] = 0xCD  # arithmetic differential
    with pytest.raises(ValueError, match="differential frame"):
        parse_jpeg(bytes(bad))

    exp = good.find(b"\xff\xdf")
    bad = bytearray(good)
    bad[exp + 4] = 0x00  # EXP with neither axis flagged
    with pytest.raises(ValueError, match="EXP"):
        parse_jpeg(bytes(bad))

    bad = bytearray(good)
    bad[exp + 4] = 0x21  # Eh=2: flags are 0/1 only
    with pytest.raises(ValueError, match="EXP"):
        parse_jpeg(bytes(bad))

    # duplicate DHP
    seg = good[dhp : dhp + 13]
    with pytest.raises(ValueError, match="duplicate DHP"):
        parse_jpeg(good[: dhp + 13] + seg + good[dhp + 13 :])

    # point transform in the differential lossless scan
    sos2 = good.rfind(b"\xff\xda")
    bad = bytearray(good)
    bad[sos2 + 9] = 1  # AhAl of the SOF7 scan
    with pytest.raises(ValueError, match="point transform"):
        parse_jpeg(bytes(bad))

    # differential frame dims drifting from the expanded reference
    sof7 = good.find(b"\xff\xc7")
    bad = bytearray(good)
    bad[sof7 + 6] = 0  # fh high byte stays 0, low byte:
    bad[sof7 + 7] = 4  # fh 10 -> 4
    with pytest.raises(ValueError, match="mismatch"):
        parse_jpeg(bytes(bad))

    # EXP with no frame following (truncate after the EXP segment)
    with pytest.raises(ValueError):
        parse_jpeg(good[: exp + 6] + b"\xff\xd9")

    # color input refused at the encoder
    with pytest.raises(ValueError, match="grayscale"):
        build_jpeg_hierarchical(
            np.zeros((8, 8, 3), dtype=np.int64), mode="lossless"
        )

    # truncated fixed-width fields raise ValueError, never struct.error
    # (the fake-path fallback catches ValueError only — review-caught)
    with pytest.raises(ValueError):
        parse_jpeg(b"\xff\xd8\xff\xde\x00\x02\xff\xd9")
    with pytest.raises(ValueError):
        parse_jpeg(b"\xff\xd8\xff\xde\x00\x05\x08\x00\x10\xff\xd9")
    bad = bytearray(good)
    sof7b = bad.find(b"\xff\xc7")
    bad[sof7b + 3] = 5  # SOF7 length 11 -> 5: three-byte body
    with pytest.raises(ValueError):
        parse_jpeg(bytes(bad))

    # decompression-bomb guard: DHP dims and differential frame dims
    # beyond the decoder cap refuse BEFORE any allocation
    bomb = bytearray(good)
    bomb[dhp + 5 : dhp + 9] = (60000).to_bytes(2, "big") * 2
    with pytest.raises(ValueError, match="decoder cap"):
        parse_jpeg(bytes(bomb))
    bomb = bytearray(good)
    s7 = bomb.find(b"\xff\xc7")
    bomb[s7 + 5 : s7 + 9] = (60000).to_bytes(2, "big") * 2
    with pytest.raises(ValueError, match="decoder cap|mismatch"):
        parse_jpeg(bytes(bomb))


def test_jpeg_hierarchical_sof5_dc_ssss16():
    """T.81 permits SSSS=16 in differential DCT DC scans (a 32768
    correction with NO appended bits — F.1.2.1 doubles the difference
    range in differential frames); the SOF5 branch must accept it like
    the SOF7 path does (r12 ADVICE). Hand-assembled stream: a 12-bit
    flat-zero SOF1 base (its DHT is the DC_LOSSLESS table, symbols
    0..16) + one differential SOF5 frame whose single block codes DC
    symbol 16 then EOB — dequant 32768 at quant 1, IDCT adds
    32768/8 = 4096 to every sample, clipped to the 12-bit max 4095."""
    import struct

    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        _JPEG_AC_EXT12,
        _JPEG_DC_LOSSLESS,
        _jpeg_encode_table,
        _JpegBitWriter,
        build_jpeg_ext12,
        parse_jpeg,
    )

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    frame_body = struct.pack(">BHHB", 12, 8, 8, 1) + bytes([1, 0x11, 0])
    base = build_jpeg_ext12(np.zeros((8, 8), np.int64))
    out = bytearray(b"\xff\xd8")
    out += seg(0xDE, frame_body)
    out += base[2:-2]  # DQT(all-1) + SOF1 + DHT + SOS + entropy
    bw = _JpegBitWriter()
    code, ln = _jpeg_encode_table(*_JPEG_DC_LOSSLESS)[16]
    bw.write(code, ln)  # SSSS=16: diff 32768, no appended bits
    code, ln = _jpeg_encode_table(*_JPEG_AC_EXT12)[0x00]
    bw.write(code, ln)  # EOB
    bw.flush()
    out += seg(0xC5, frame_body)
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += bytes(bw.out)
    out += b"\xff\xd9"

    w, h, px = parse_jpeg(bytes(out))
    assert (w, h) == (8, 8)
    assert px.dtype == np.uint16 and px.shape == (8, 8, 1)
    assert int(px.min()) == 4095 and int(px.max()) == 4095


def test_jpeg_hierarchical_bitflip_fuzz():
    """Adversarial robustness (the codec-family fuzz convention): any
    single-bit flip over a hierarchical stream's entropy region, and
    any header byte xored 0x55 across DHP/SOF/SOS segments, must
    either decode to SOME bounded raster or refuse with ValueError —
    never crash, hang, or over-allocate."""
    import numpy as np
    import pytest  # noqa: F401

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_hierarchical,
        parse_jpeg,
    )

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, (9, 10), dtype=np.int64)
    for blob, dt in (
        (build_jpeg_hierarchical(img, mode="lossless", levels=2,
                                 restart_interval=5), "uint8"),
        (build_jpeg_hierarchical(img, mode="dct"), "uint8"),
    ):
        sos = blob.find(b"\xff\xda")
        start, end = sos + 2 + int.from_bytes(blob[sos + 2 : sos + 4],
                                              "big"), len(blob) - 2
        for pos in range(start, end):
            for mask in (0x01, 0x80):
                bad = bytearray(blob)
                bad[pos] ^= mask
                try:
                    _w, _h, px = parse_jpeg(bytes(bad))
                    assert px.dtype.name == dt
                except ValueError:
                    pass
        # header fuzz: DHP + every frame header + scan headers
        spots = list(range(2, 2 + 15))
        for pat in (b"\xff\xc0", b"\xff\xc3", b"\xff\xc5", b"\xff\xc7",
                    b"\xff\xda", b"\xff\xdf"):
            p = blob.find(pat)
            while p != -1:
                spots.extend(range(p, min(p + 12, len(blob))))
                p = blob.find(pat, p + 2)
        for pos in spots:
            bad = bytearray(blob)
            bad[pos] ^= 0x55
            try:
                parse_jpeg(bytes(bad))
            except ValueError:
                pass


def test_jpeg_hierarchical_nonbaseline_base_frames():
    """The pyramid base is decoded by parse_jpeg recursion, so ANY
    supported non-differential process works as the first frame —
    pin it for progressive (SOF2, multi-scan) and arithmetic (SOF9)
    bases by hand-assembling DHP + standalone-frame-body streams and
    checking raster identity with the standalone decode."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import (
        build_jpeg_arith,
        build_jpeg_progressive,
        parse_jpeg,
    )

    rng = np.random.default_rng(29)
    vals = rng.integers(0, 256, (2, 3))
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1).astype(np.uint8)
    h, w = img.shape
    dhp = (
        b"\xff\xde" + (2 + 9).to_bytes(2, "big")
        + bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    for standalone in (
        build_jpeg_progressive(img, successive=True),
        build_jpeg_arith(img),
    ):
        assert standalone[:2] == b"\xff\xd8"
        hier = b"\xff\xd8" + dhp + standalone[2:]
        w1, h1, px1 = parse_jpeg(hier)
        w0, h0, px0 = parse_jpeg(standalone)
        assert (w1, h1) == (w0, h0) == (w, h)
        assert (px1 == px0).all()
        assert int(px1.astype(np.int64).sum()) == 64 * int(vals.sum())


def test_parser_truncation_sweep_valueerror_only():
    """Systematic malformed-length net for the WHOLE codec family
    (r12, after the hierarchical struct.error escape): every builder's
    output, truncated at ~80 points (bare and zero-padded) plus
    magic+garbage tails, must make its parser either return or raise
    ValueError — never struct.error / IndexError / anything else the
    decode UDFs' fallback cannot catch. The per-format bitflip fuzz
    mutates VALID streams; this sweep covers the short-segment class
    those tests structurally cannot reach."""
    import numpy as np

    from sparkga1_spark.operators import multimodal as M

    rng = np.random.default_rng(41)
    vals = rng.integers(0, 256, (2, 3))
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1).astype(np.uint8)
    rgb = np.repeat(img[:, :, None], 3, 2)
    pcm = rng.integers(-1000, 1000, 256).astype(np.int16)

    cases = [
        (M.build_bmp(rgb), M.parse_bmp),
        (M.build_ppm(rgb), M.parse_ppm),
        (M.build_png(rgb), M.parse_png),
        (M.build_qoi(rgb), M.parse_qoi),
        (M.build_gif(img % 4, img.shape[1], img.shape[0]), M.parse_gif),
        (M.build_pcx(rgb), M.parse_pcx),
        (M.build_jpeg_baseline(img), M.parse_jpeg),
        (M.build_jpeg_progressive(img, successive=True), M.parse_jpeg),
        (M.build_jpeg_arith(img), M.parse_jpeg),
        (M.build_jpeg_lossless(img.astype(np.int64)), M.parse_jpeg),
        (M.build_jpeg_hierarchical(img.astype(np.int64)), M.parse_jpeg),
        (M.build_jpeg_hierarchical(img.astype(np.int64), mode="dct"),
         M.parse_jpeg),
        (M.build_flac(pcm), M.parse_flac),
        (M.build_wav(pcm, sample_rate=8000), M.parse_wav),
        (M.build_y4m([img[:16, :16]] * 2), M.parse_y4m),
        (M.build_mp4_meta(64, 48, [100, 120, 80], chunks=[2, 1]),
         M.parse_mp4_samples),
    ]
    from sparkga1_spark.operators import crawl as C
    from sparkga1_spark.operators import mime as MM
    from sparkga1_spark.operators import pdfdoc as P

    cases += [
        (C.build_warc(7, "https://ex.com/a", "hello world " * 20,
                      gzip_members=True), C.parse_warc),
        (C.build_warc(7, "https://ex.com/a", "hello " * 30), C.parse_warc),
        (P.build_pdf(7, "some text " * 30, flate=True, n_pages=2),
         P.extract_pdf_text),
        (MM.build_mime(7, "body text " * 20), MM.parse_mime),
    ]
    for blob, parser in cases:
        if parser is None:
            continue
        step = max(1, len(blob) // 80)
        for cut in range(2, len(blob), step):
            for extra in (b"", b"\x00" * 4):
                try:
                    parser(blob[:cut] + extra)
                except ValueError:
                    pass  # the one sanctioned refusal channel
        for _ in range(40):
            tail = rng.integers(0, 256, 60, dtype=np.uint8).tobytes()
            try:
                parser(blob[:10] + tail)
            except ValueError:
                pass

    # text-parser arm (r12 VERDICT #7): the two crawl TEXT entry
    # points (robots.txt and sitemap XML) complete the
    # ValueError-only contract across every public parse_* dispatch
    # surface — truncation at every point plus mojibake tails, same
    # net, str instead of bytes
    text_cases = [
        (C.build_sitemap(7, "src"), C.parse_sitemap),
        (C.build_sitemap(8, "idx"), C.parse_sitemap),
        (
            "User-agent: spark-graft\nDisallow: /private/*\n"
            "Allow: /private/ok$\n# comment\nUser-agent: *\n"
            "Crawl-delay: 3\nDisallow: /tmp\n",
            lambda t: C.parse_robots(t, "spark-graft/1.0"),
        ),
    ]
    for text, tparser in text_cases:
        step = max(1, len(text) // 80)
        for cut in range(0, len(text), step):
            for extra in ("", "\x00<&]]>"):
                try:
                    tparser(text[:cut] + extra)
                except ValueError:
                    pass  # the one sanctioned refusal channel
        for _ in range(40):
            tail = "".join(
                chr(c) for c in rng.integers(1, 0x2FF, 60)
            )
            try:
                tparser(text[:10] + tail)
            except ValueError:
                pass


def test_vp8l_huffman_lengths_match_dict_merge_reference():
    """r13 batch 28 pins: the parent-pointer Huffman builder must
    reproduce the dict-merging original EXACTLY (same heap keys, same
    pop order, same lengths) — any drift re-codes every planted VP8L
    stream. The reference below IS the pre-r13 implementation."""
    import heapq
    import itertools
    import random

    from sparkga1_spark.operators.multimodal import _vp8l_huffman_lengths

    def reference(freqs, cap):
        if len(freqs) == 1:
            return {next(iter(freqs)): 1}
        f = dict(freqs)
        while True:
            counter = itertools.count()
            heap = [(fr, next(counter), {s: 0}) for s, fr in sorted(f.items())]
            heapq.heapify(heap)
            while len(heap) > 1:
                fa, _, da = heapq.heappop(heap)
                fb, _, db = heapq.heappop(heap)
                merged = {s: l + 1 for s, l in da.items()}
                merged.update({s: l + 1 for s, l in db.items()})
                heapq.heappush(heap, (fa + fb, next(counter), merged))
            lengths = heap[0][2]
            if max(lengths.values()) <= cap:
                return lengths
            f = {s: (fr + 1) >> 1 for s, fr in f.items()}

    rng = random.Random(13)
    cases = [
        {0: 1},
        {5: 3, 7: 3},
        {i: 1 for i in range(19)},  # uniform: deep tie-break ladder
        {i: 2**i for i in range(14)},  # fibonacci-ish: hits the cap
        {i: (i % 7) + 1 for i in range(40)},
    ]
    for _ in range(40):
        n = rng.randint(2, 60)
        cases.append(
            {rng.randrange(280): rng.randint(1, 1 << rng.randint(0, 12))
             for _ in range(n)}
        )
    for freqs in cases:
        for cap in (7, 15):
            assert _vp8l_huffman_lengths(dict(freqs), cap) == reference(
                freqs, cap
            ), freqs


def test_vp8l_rev_codes_are_bit_reversed_canonical():
    """r13 batch 28: the emission tables are the canonical codes with
    each codeword bit-reversed (LSB-first writer, MSB-first codes)."""
    from sparkga1_spark.operators.multimodal import (
        _vp8l_canonical_codes,
        _vp8l_rev_codes,
    )

    lengths = {0: 2, 3: 2, 7: 3, 9: 3, 12: 3, 20: 4, 21: 4}
    canon = _vp8l_canonical_codes(lengths)
    rev = _vp8l_rev_codes(lengths)
    assert set(canon) == set(rev)
    for s, (code, ln) in canon.items():
        v, ln2 = rev[s]
        assert ln2 == ln
        assert v == int(format(code, f"0{ln}b")[::-1], 2)
