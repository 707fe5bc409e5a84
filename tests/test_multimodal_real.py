"""Codec-free image decoders (BMP, PNG, GIF; JPEG lives in test_jpeg.py),
the ``decode_image`` dispatch and the grid feature, checked against
independent test-side encoders."""

import struct
import tracemalloc

import numpy as np
import pytest

from datasketch_spark.operators.multimodal import (
    decode_bmp,
    decode_gif,
    decode_image,
    decode_png,
    image_grid_feature,
)

# TIFF magic (II*\0, first IFD at 8): no codec-free decoder reads it.
TIFF_MAGIC = b"II*\x00\x08\x00\x00\x00" + b"\x00" * 8


def encode_bmp(rgb: np.ndarray) -> bytes:
    """Minimal 24-bit bottom-up BMP writer (test-side oracle encoder)."""
    h, w, _ = rgb.shape
    stride = (w * 3 + 3) & ~3
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = rgb[y, :, ::-1].astype(np.uint8).tobytes()  # RGB -> BGR
        rows += row + b"\x00" * (stride - len(row))
    pixel_data = bytes(rows)
    file_header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixel_data), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0)
    return file_header + dib + pixel_data


def test_bmp_roundtrip_exact():
    rng = np.random.RandomState(0)
    img = rng.randint(0, 256, size=(13, 17, 3), dtype=np.uint8)  # odd dims -> padding
    decoded = decode_bmp(encode_bmp(img))
    assert decoded.shape == (13, 17, 3)
    assert np.array_equal(decoded, img)


def test_bmp_rejects_non_bmp_and_compressed():
    with pytest.raises(ValueError):
        decode_bmp(b"\x89PNG\r\n" + b"\x00" * 60)
    # fake compression flag
    img = encode_bmp(np.zeros((4, 4, 3), dtype=np.uint8))
    bad = bytearray(img)
    struct.pack_into("<I", bad, 30, 1)  # BI_RLE8
    with pytest.raises(NotImplementedError, match="pillow"):
        decode_bmp(bytes(bad))


def test_image_grid_feature_semantics():
    # Top half black, bottom half white -> grid means split accordingly.
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[8:] = 255
    f = image_grid_feature(img, grid=4).reshape(4, 4)
    assert np.allclose(f[:2], 0.0, atol=1e-6)
    assert np.allclose(f[2:], 1.0, atol=1e-3)


def test_real_feature_operators_with_quarantine():
    # Decodable payloads give distinct grid features; the payloads a
    # caller must quarantine raise ValueError (truncated JPEG names JPEG).
    img_a = encode_bmp(np.full((8, 8, 3), 10, dtype=np.uint8))
    img_b = encode_bmp(np.full((8, 8, 3), 200, dtype=np.uint8))
    feat_a = image_grid_feature(decode_image(img_a), grid=4)
    feat_b = image_grid_feature(decode_image(img_b), grid=4)
    assert len(feat_a) == 16
    assert not np.array_equal(feat_a, feat_b)
    # Truncated JPEG junk (baseline JPEG itself decodes: operators/jpeg.py).
    with pytest.raises(ValueError, match="JPEG"):
        decode_image(b"\xff\xd8\xffJPEGish")
    with pytest.raises(ValueError):
        decode_image(None)


def encode_png(
    px: np.ndarray, color_type: int = 2, filters=None, palette: np.ndarray | None = None
) -> bytes:
    """Minimal stdlib PNG writer (test-side oracle): 8-bit, per-row filter
    types chosen to exercise every unfilter path (0=None 1=Sub 2=Up
    3=Average 4=Paeth). For ``color_type=3`` pass ``palette`` (n x 3
    uint8) and ``px`` as (h, w[, 1]) palette indices."""
    import zlib

    h, w = px.shape[:2]
    channels = px.shape[2] if px.ndim == 3 else 1
    bpp = channels
    flat = px.reshape(h, w * channels).astype(np.int32)
    filters = filters if filters is not None else [y % 5 for y in range(h)]
    raw = bytearray()
    prev = np.zeros(w * channels, dtype=np.int32)
    for y in range(h):
        line, f = flat[y], filters[y]
        left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
        if f == 0:
            enc = line
        elif f == 1:
            enc = line - left
        elif f == 2:
            enc = line - prev
        elif f == 3:
            enc = line - ((left + prev) >> 1)
        else:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
            enc = line - pred
        raw += bytes([f]) + (enc & 0xFF).astype(np.uint8).tobytes()
        prev = line

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    plte = (
        chunk(b"PLTE", palette.astype(np.uint8).tobytes())
        if palette is not None
        else b""
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + plte
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_roundtrip_all_filters():
    rng = np.random.RandomState(42)
    px = rng.randint(0, 256, size=(16, 12, 3)).astype(np.uint8)
    # Cycle filters 0-4 across rows: every unfilter path exercised.
    data = encode_png(px, color_type=2)
    got = decode_png(data)
    assert got.shape == (16, 12, 3)
    assert np.array_equal(got, px)
    # Single-filter encodes must agree too.
    for f in range(5):
        assert np.array_equal(decode_png(encode_png(px, 2, [f] * 16)), px)


def test_png_gray_and_alpha_normalized_to_rgb():
    rng = np.random.RandomState(43)
    gray = rng.randint(0, 256, size=(8, 9, 1)).astype(np.uint8)
    got = decode_png(encode_png(gray, color_type=0))
    assert np.array_equal(got, np.repeat(gray, 3, axis=2))
    rgba = rng.randint(0, 256, size=(8, 9, 4)).astype(np.uint8)
    got = decode_png(encode_png(rgba, color_type=6))
    assert np.array_equal(got, rgba[:, :, :3])


def test_png_rejects_unsupported_variants():
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    data = bytearray(encode_png(px))
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\nxxxx")  # truncated chunks
    # Flip interlace byte inside IHDR (offset: 8 sig + 8 chunk hdr + 12).
    bad = bytearray(data)
    bad[8 + 8 + 12] = 1
    with pytest.raises(NotImplementedError):
        decode_png(bytes(bad))
    # 16-bit depth.
    bad = bytearray(data)
    bad[8 + 8 + 8] = 16
    with pytest.raises(NotImplementedError):
        decode_png(bytes(bad))
    # decode_image dispatch: BMP/PNG real; truncated JPEG is a ValueError
    # (decoded for real since r5); WebP named as needing pillow.
    assert decode_image(encode_png(px)).shape == (4, 4, 3)
    with pytest.raises(ValueError, match="JPEG"):
        decode_image(b"\xff\xd8\xff\xe0JFIFxxxx")
    with pytest.raises(NotImplementedError, match="pillow"):
        decode_image(b"RIFF\x00\x01\x00\x00WEBPVP8 ")


def test_image_features_decodes_png_rows():
    png = encode_png(np.full((8, 8, 3), 120, dtype=np.uint8), 2)
    bmp = encode_bmp(np.full((8, 8, 3), 120, dtype=np.uint8))
    # Same pixels through either container -> identical features.
    assert np.array_equal(
        image_grid_feature(decode_image(png), grid=4),
        image_grid_feature(decode_image(bmp), grid=4),
    )


def test_png_paletted_decodes_via_plte():
    rng = np.random.RandomState(45)
    palette = rng.randint(0, 256, size=(17, 3)).astype(np.uint8)
    idx = rng.randint(0, 17, size=(9, 6, 1)).astype(np.uint8)
    idx[0, 0, 0] = 16  # force a high index for the range checks below
    want = palette[idx[:, :, 0]]
    for f in range(5):
        got = decode_png(encode_png(idx, 3, [f] * 9, palette=palette))
        assert np.array_equal(got, want), f
    # Mixed per-row filters too.
    assert np.array_equal(decode_png(encode_png(idx, 3, palette=palette)), want)
    # Missing PLTE and out-of-range indexes are malformed, not unsupported.
    with pytest.raises(ValueError):
        decode_png(encode_png(idx, 3))
    with pytest.raises(ValueError):
        decode_png(encode_png(idx, 3, palette=palette[:5]))


def _lzw_encode(indexes: bytes, min_code: int) -> bytes:
    """Independent test-side GIF LZW encoder (spec algorithm: string table,
    variable width synced to the decoder's widen-on-table-fill rule)."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = clear + 2
    code_size = min_code + 1
    val, nbits, out = 0, 0, bytearray()

    def emit(code, size):
        nonlocal val, nbits
        val |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(val & 0xFF)
            val >>= 8
            nbits -= 8

    emit(clear, code_size)
    w = b""
    for ch in indexes:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        emit(table[w], code_size)
        table[w + c] = next_code
        next_code += 1
        if next_code - 1 == (1 << code_size) and code_size < 12:
            code_size += 1
        if next_code > 4095:
            emit(clear, code_size)
            table = {bytes([i]): i for i in range(clear)}
            next_code = clear + 2
            code_size = min_code + 1
        w = c
    if w:
        emit(table[w], code_size)
    emit(end, code_size)
    if nbits:
        out.append(val & 0xFF)
    return bytes(out)


def encode_gif(
    idx: np.ndarray,
    palette: np.ndarray,
    interlace: bool = False,
    local_palette: bool = False,
    min_code: int | None = None,
) -> bytes:
    """Minimal stdlib GIF89a writer (test-side oracle): one frame, global
    or local color table, optional interlacing, real LZW stream."""
    h, w = idx.shape
    if interlace:
        rows = np.concatenate(
            [np.arange(0, h, 8), np.arange(4, h, 8),
             np.arange(2, h, 4), np.arange(1, h, 2)]
        )
        idx = idx[rows]
    n = len(palette)
    ctbits = max(2, (n - 1).bit_length())
    pal_bytes = np.zeros(((1 << ctbits), 3), np.uint8)
    pal_bytes[:n] = palette
    mc = min_code if min_code is not None else max(2, ctbits)
    out = bytearray(b"GIF89a")
    gflag = 0 if local_palette else 0x80 | (ctbits - 1)
    out += struct.pack("<HHBBB", w, h, gflag, 0, 0)
    if not local_palette:
        out += pal_bytes.tobytes()
    # A comment extension block: the parser must skip it.
    out += b"\x21\xfe\x05hello\x00"
    iflag = (0x40 if interlace else 0) | (0x80 | (ctbits - 1) if local_palette else 0)
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, iflag)
    if local_palette:
        out += pal_bytes.tobytes()
    out += bytes([mc])
    stream = _lzw_encode(idx.astype(np.uint8).tobytes(), mc)
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_roundtrip_paths():
    rng = np.random.RandomState(46)
    palette = rng.randint(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, size=(13, 9)).astype(np.uint8)
    want = palette[idx]
    # global palette, plain
    assert np.array_equal(decode_gif(encode_gif(idx, palette)), want)
    # local palette
    assert np.array_equal(
        decode_gif(encode_gif(idx, palette, local_palette=True)), want
    )
    # interlaced
    assert np.array_equal(
        decode_gif(encode_gif(idx, palette, interlace=True)), want
    )
    # structured data (runs) exercises the dictionary-growth path;
    # a big random frame forces multiple code widths
    big = rng.randint(0, 16, size=(64, 64)).astype(np.uint8)
    big[:16] = 3  # long runs -> KwKwK cases
    assert np.array_equal(decode_gif(encode_gif(big, palette)), palette[big])
    # 2-color (min_code clamps to 2)
    bw = np.array([[0, 1, 1, 0], [1, 0, 0, 1]], np.uint8)
    bwpal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    assert np.array_equal(decode_gif(encode_gif(bw, bwpal)), bwpal[bw])
    # malformed payloads raise ValueError
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a\x00")
    with pytest.raises(ValueError):
        decode_gif(encode_gif(idx, palette)[:30])


def test_gif_header_without_frame_allocates_no_screen():
    """The canvas is allocated at the first image descriptor: a 14-byte
    header declaring an 8000x8000 screen (192 MB of RGB) and no frame is
    refused without touching that much memory."""
    header = b"GIF89a" + struct.pack("<HHBBB", 8000, 8000, 0, 0, 0) + b"\x3b"
    assert len(header) == 14
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="GIF contains no image frame"):
            decode_gif(header)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 2**20


def test_decode_image_dispatch_gif_tiff():
    rng = np.random.RandomState(48)
    palette = rng.randint(0, 256, size=(8, 3)).astype(np.uint8)
    idx = rng.randint(0, 8, size=(5, 5)).astype(np.uint8)
    assert decode_image(encode_gif(idx, palette)).shape == (5, 5, 3)
    # TIFF has no codec-free decoder: it is refused, never misread.
    with pytest.raises(NotImplementedError, match="pillow"):
        decode_image(TIFF_MAGIC)
    with pytest.raises(NotImplementedError):
        decode_image(b"MM\x00*" + TIFF_MAGIC[4:])
    with pytest.raises(ValueError, match="JPEG"):
        decode_image(b"\xff\xd8\xff\xe0JFIF\x00\x00")  # truncated JPEG


def encode_animated_gif(frames, palette, sw, sh, bg_idx=0) -> bytes:
    """Multi-frame GIF89a writer: each frame dict carries idx (2-D array),
    left/top, delay_ms, disposal, trans_idx."""
    n = len(palette)
    ctbits = max(2, (n - 1).bit_length())
    pal_bytes = np.zeros(((1 << ctbits), 3), np.uint8)
    pal_bytes[:n] = palette
    mc = max(2, ctbits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0x80 | (ctbits - 1), bg_idx, 0)
    out += pal_bytes.tobytes()
    for f in frames:
        trans = f.get("trans_idx")
        packed = (f.get("disposal", 0) << 2) | (1 if trans is not None else 0)
        out += (
            b"\x21\xf9\x04"
            + bytes([packed])
            + struct.pack("<H", f.get("delay_ms", 0) // 10)
            + bytes([trans if trans is not None else 0])
            + b"\x00"
        )
        idx = np.asarray(f["idx"], dtype=np.uint8)
        h, w = idx.shape
        out += b"\x2c" + struct.pack(
            "<HHHHB", f.get("left", 0), f.get("top", 0), w, h, 0
        )
        stream = _lzw_encode(idx.tobytes(), mc)
        out += bytes([mc])
        for i in range(0, len(stream), 255):
            chunk = stream[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def test_gif_animation_composition():
    # palette: 0=black, 1=red, 2=green, 3=blue
    pal = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8
    )
    red = np.full((4, 4), 1, np.uint8)
    green2 = np.full((2, 2), 2, np.uint8)
    trans_blue = np.array([[3, 0], [0, 3]], np.uint8)  # 0 = transparent
    data = encode_animated_gif(
        [
            {"idx": red, "delay_ms": 100, "disposal": 1},
            {"idx": green2, "left": 1, "top": 1, "delay_ms": 100, "disposal": 2},
            {"idx": trans_blue, "delay_ms": 100, "trans_idx": 0, "disposal": 3},
            {"idx": green2, "left": 2, "top": 2, "delay_ms": 100},
        ],
        pal,
        4,
        4,
    )
    RED, GREEN, BLUE = pal[1], pal[2], pal[3]
    # decode_gif is frame 1 of the animation; later frames are not read.
    assert np.array_equal(decode_gif(data), np.tile(RED, (4, 4, 1)))
    # A first frame smaller than the screen, with a transparent index,
    # paints over the background color (bg_idx=2, green).
    data = encode_animated_gif(
        [{"idx": trans_blue, "left": 1, "top": 1, "trans_idx": 0}, {"idx": red}],
        pal,
        4,
        4,
        bg_idx=2,
    )
    want = np.tile(GREEN, (4, 4, 1))
    want[1, 1] = BLUE
    want[2, 2] = BLUE
    assert np.array_equal(decode_gif(data), want)


def test_image_features_decodes_gif_tiff_rows():
    # Identical pixels give identical features through every container,
    # the paletted GIF included; a TIFF payload is refused.
    rng = np.random.RandomState(49)
    px = rng.randint(0, 256, size=(8, 8, 3)).astype(np.uint8)
    pal = px.reshape(-1, 3)[:64]
    idx = np.arange(64, dtype=np.uint8).reshape(8, 8)
    feats = [
        image_grid_feature(decode_image(p), grid=4)
        for p in (encode_png(px, 2), encode_bmp(px), encode_gif(idx, pal))
    ]
    assert np.array_equal(feats[0], feats[1])
    assert np.array_equal(feats[0], feats[2])
    with pytest.raises(NotImplementedError):
        decode_image(TIFF_MAGIC)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


if HAVE_HYPOTHESIS:

    @settings(max_examples=30, deadline=None)
    @given(
        h=st.integers(1, 12),
        w=st.integers(1, 12),
        n_colors=st.integers(2, 32),
        interlace=st.booleans(),
        data=st.data(),
    )
    def test_gif_lzw_roundtrip_fuzz(h, w, n_colors, interlace, data):
        seed = data.draw(st.integers(0, 2**31 - 1))
        rng = np.random.RandomState(seed)
        pal = rng.randint(0, 256, size=(n_colors, 3)).astype(np.uint8)
        idx = rng.randint(0, n_colors, size=(h, w)).astype(np.uint8)
        got = decode_gif(encode_gif(idx, pal, interlace=interlace))
        assert np.array_equal(got, pal[idx])

    @settings(max_examples=30, deadline=None)
    @given(
        h=st.integers(1, 10),
        w=st.integers(1, 10),
        ctype=st.sampled_from([0, 2, 3, 4, 6]),
        data=st.data(),
    )
    def test_png_roundtrip_fuzz(h, w, ctype, data):
        seed = data.draw(st.integers(0, 2**31 - 1))
        rng = np.random.RandomState(seed)
        filters = [data.draw(st.integers(0, 4)) for _ in range(h)]
        if ctype == 3:
            pal = rng.randint(0, 256, size=(16, 3)).astype(np.uint8)
            idx = rng.randint(0, 16, size=(h, w, 1)).astype(np.uint8)
            got = decode_png(encode_png(idx, 3, filters, palette=pal))
            assert np.array_equal(got, pal[idx[:, :, 0]])
            return
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
        px = rng.randint(0, 256, size=(h, w, ch)).astype(np.uint8)
        got = decode_png(encode_png(px, ctype, filters))
        want = np.repeat(px[:, :, :1], 3, axis=2) if ch <= 2 else px[:, :, :3]
        assert np.array_equal(got, want)


def test_png_roundtrip_edge_shapes():
    # Degenerate rasters (1-pixel rows/columns, single row, each channel
    # mode) exercise the bpp-boundary branches of every unfilter path.
    rng = np.random.RandomState(44)
    for h, w in [(1, 1), (1, 7), (7, 1), (2, 2), (3, 5)]:
        for ctype, ch in [(0, 1), (2, 3), (4, 2), (6, 4)]:
            px = rng.randint(0, 256, size=(h, w, ch)).astype(np.uint8)
            for f in range(5):
                got = decode_png(encode_png(px, ctype, [f] * h))
                want = (
                    np.repeat(px[:, :, :1], 3, axis=2) if ch <= 2 else px[:, :, :3]
                )
                assert np.array_equal(got, want), (h, w, ctype, f)
