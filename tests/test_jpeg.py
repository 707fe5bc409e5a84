"""Baseline JPEG decoder: round-trip vs an independent test-side encoder
(stdlib+numpy), tolerance-bounded (DCT quantization is lossy), plus
marker/corruption semantics."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datasketch_spark.operators.jpeg import decode_jpeg

# ---------------------------------------------------------------------------
# Test-side encoder (forward path only; written independently of the
# decoder: own zigzag walk, own DCT basis, own bit packer).
# ---------------------------------------------------------------------------

_ZZ = []  # zigzag index order built by diagonal walk (decoder uses a table)
for s in range(15):
    rng_ = range(max(0, s - 7), min(8, s + 1))
    diag = [(s - j, j) for j in rng_]
    if s % 2 == 1:  # odd anti-diagonals run top-right -> bottom-left
        diag = diag[::-1]
    _ZZ += [r * 8 + c for r, c in diag]

_C = np.zeros((8, 8))
for k in range(8):
    for nn in range(8):
        _C[k, nn] = np.cos((2 * nn + 1) * k * np.pi / 16) / 2
_C[0] *= 1 / np.sqrt(2)

# Standard Annex K DC code lengths (exercises variable-length canonical
# codes in the decoder); AC uses a flat 9-bit code over used symbols.
_DC_COUNTS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_SYMBOLS = list(range(12))


def _dc_codemap():
    code, k, out = 0, 0, {}
    for length in range(1, 17):
        for _ in range(_DC_COUNTS[length - 1]):
            out[_DC_SYMBOLS[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code, length):
        self.acc = (self.acc << length) | code
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)


def _mag(v):
    if v == 0:
        return 0, 0
    s = abs(v).bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def _encode_blocks(writer, blocks, pred, dc_map, ac_map, qtab):
    """blocks: (n, 8, 8) float spatial (level-shifted); returns new pred."""
    for blk in blocks:
        coefs = _C @ blk @ _C.T
        q = np.round(coefs / qtab).astype(np.int64).reshape(-1)[_ZZ]
        s, bits = _mag(int(q[0]) - pred)
        code, ln = dc_map[s]
        writer.put(code, ln)
        if s:
            writer.put(bits, s)
        pred = int(q[0])
        run = 0
        last_nz = max(np.nonzero(q[1:])[0], default=-1)
        for k in range(1, 2 + last_nz if last_nz >= 0 else 1):
            v = int(q[k]) if k < 64 else 0
            if v == 0:
                run += 1
                continue
            while run > 15:
                writer.put(*ac_map[0xF0])
                run -= 16
            s, bits = _mag(v)
            writer.put(*ac_map[(run << 4) | s])
            writer.put(bits, s)
            run = 0
        if last_nz < 62:  # EOB unless block ended exactly at k=63
            writer.put(*ac_map[0x00])
    return pred


def _used_ac_symbols(planes_blocks, qtab):
    used = {0x00, 0xF0}
    for blocks, _ in planes_blocks:
        for blk in blocks.reshape(-1, 8, 8):
            coefs = _C @ blk @ _C.T
            q = np.round(coefs / qtab).astype(np.int64).reshape(-1)[_ZZ]
            run = 0
            nz = np.nonzero(q[1:])[0]
            last = nz.max() if nz.size else -1
            for k in range(1, last + 2):
                v = int(q[k])
                if v == 0:
                    run += 1
                    continue
                run %= 16
                used.add((run << 4) | abs(v).bit_length())
                run = 0
    return sorted(used)


# Standard Annex K.1 luminance quantization table (T.81), natural order —
# used only when quality < 100 to produce realistically sparse blocks.
_STD_LUMA_Q = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.float64,
).reshape(8, 8)


def encode_jpeg(rgb: np.ndarray, subsample: bool = False,
                restart_interval: int = 0, gray: bool = False,
                quality: int = 100) -> bytes:
    """Minimal baseline JFIF encoder: quality=100 -> all-ones quant
    (near-lossless round-trip); lower quality scales the Annex K table
    (the libjpeg convention) for realistically sparse coefficient blocks.
    4:4:4 or 4:2:0, optional restart markers, optional grayscale."""
    h, w = rgb.shape[:2]
    if gray:
        comps_px = [rgb[:, :, 0].astype(np.float64)]
        sampling = [(1, 1)]
    else:
        r = rgb[:, :, 0].astype(np.float64)
        g = rgb[:, :, 1].astype(np.float64)
        b = rgb[:, :, 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
        if subsample:
            sampling = [(2, 2), (1, 1), (1, 1)]
            # pad to even dims then 2x2 box-average chroma
            eh, ew = (h + 1) & ~1, (w + 1) & ~1
            cbp = np.pad(cb, ((0, eh - h), (0, ew - w)), mode="edge")
            crp = np.pad(cr, ((0, eh - h), (0, ew - w)), mode="edge")
            cb = cbp.reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
        else:
            sampling = [(1, 1), (1, 1), (1, 1)]
        comps_px = [y, cb, cr]

    max_h = max(s[0] for s in sampling)
    max_v = max(s[1] for s in sampling)
    mcus_x = -(-w // (8 * max_h))
    mcus_y = -(-h // (8 * max_v))

    planes_blocks = []
    for px, (hs, vs) in zip(comps_px, sampling):
        ph, pw = mcus_y * vs * 8, mcus_x * hs * 8
        padded = np.pad(
            px, ((0, ph - px.shape[0]), (0, pw - px.shape[1])), mode="edge"
        ) - 128.0
        blks = padded.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3)
        planes_blocks.append((blks, (hs, vs)))

    if quality >= 100:
        qtab = np.ones((8, 8))
    else:
        scale = 5000 / quality if quality < 50 else 200 - 2 * quality
        qtab = np.clip(np.floor((_STD_LUMA_Q * scale + 50) / 100), 1, 255)
    ac_syms = _used_ac_symbols(planes_blocks, qtab)
    assert len(ac_syms) <= 256
    ac_map = {s: (i, 9) for i, s in enumerate(ac_syms)}
    dc_map = _dc_codemap()

    out = bytearray(b"\xff\xd8")
    # DQT table 0 (values stored in zigzag order per T.81)
    zz_q = qtab.reshape(-1)[_ZZ].astype(np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz_q
    # SOF0
    ncomp = len(comps_px)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci, (hs, vs) in enumerate(sampling):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT: DC table 0 (standard lengths), AC table 0 (flat 9-bit)
    dht = bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_SYMBOLS)
    ac_counts = [0] * 16
    ac_counts[8] = len(ac_syms)  # all codes are 9 bits
    dht += bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    writer = _BitWriter()
    preds = [0] * ncomp
    n_mcus = mcus_x * mcus_y
    rst = 0
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            writer.flush()
            out += writer.out + bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            writer = _BitWriter()
            preds = [0] * ncomp
        my, mx = divmod(m, mcus_x)
        for ci, (blks, (hs, vs)) in enumerate(planes_blocks):
            sub = [
                blks[my * vs + dy, mx * hs + dx]
                for dy in range(vs)
                for dx in range(hs)
            ]
            preds[ci] = _encode_blocks(writer, sub, preds[ci], dc_map, ac_map, qtab)
    writer.flush()
    out += writer.out + b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Tests
# ---------------------------------------------------------------------------


def _smooth(h, w, seed):
    """Low-frequency test image (quantization error stays tiny)."""
    rng = np.random.RandomState(seed)
    yy = np.linspace(0, np.pi * 2, h)[:, None]
    xx = np.linspace(0, np.pi * 2, w)[None, :]
    img = np.stack(
        [
            127 + 90 * np.sin(yy * rng.uniform(0.5, 2) + c)
            * np.cos(xx * rng.uniform(0.5, 2) - c)
            for c in range(3)
        ],
        axis=2,
    )
    return np.clip(img, 0, 255).astype(np.uint8)


def test_jpeg_roundtrip_444():
    px = _smooth(40, 56, 1)
    got = decode_jpeg(encode_jpeg(px))
    assert got.shape == px.shape
    # all-ones quant: error budget = FDCT rounding + color transform
    assert np.max(np.abs(got.astype(int) - px.astype(int))) <= 4


def test_jpeg_roundtrip_420_subsampled():
    px = _smooth(33, 41, 2)  # odd dims force MCU padding + crop
    got = decode_jpeg(encode_jpeg(px, subsample=True))
    assert got.shape == px.shape
    # chroma is 2x2 box-averaged then replicated: bound the luma tightly
    # and the chroma loosely
    y_got = got @ np.array([0.299, 0.587, 0.114])
    y_want = px @ np.array([0.299, 0.587, 0.114])
    assert np.max(np.abs(y_got - y_want)) <= 6
    assert np.mean(np.abs(got.astype(int) - px.astype(int))) <= 10


def test_jpeg_roundtrip_grayscale():
    g = _smooth(24, 24, 3)[:, :, :1]
    px = np.repeat(g, 3, axis=2)
    got = decode_jpeg(encode_jpeg(px, gray=True))
    assert got.shape == (24, 24, 3)
    assert np.array_equal(got[:, :, 0], got[:, :, 1])
    assert np.max(np.abs(got[:, :, 0].astype(int) - g[:, :, 0].astype(int))) <= 3


def test_jpeg_restart_markers():
    px = _smooth(48, 48, 4)
    plain = decode_jpeg(encode_jpeg(px))
    with_rst = decode_jpeg(encode_jpeg(px, restart_interval=3))
    assert np.array_equal(plain, with_rst)


def test_jpeg_exotic_sofs_rejected_and_fake_progressive_malformed():
    px = _smooth(16, 16, 5)
    data = bytearray(encode_jpeg(px))
    i = data.find(b"\xff\xc0")
    # A baseline stream relabeled SOF2 is MALFORMED progressive (its scan
    # spans DC+AC, which progressive forbids) — ValueError, not a crash.
    data[i + 1] = 0xC2
    with pytest.raises(ValueError, match="spectral"):
        decode_jpeg(bytes(data))
    data[i + 1] = 0xC3  # lossless
    with pytest.raises(NotImplementedError, match="SOF3"):
        decode_jpeg(bytes(data))


def test_jpeg_corrupt_and_truncated():
    px = _smooth(16, 16, 6)
    data = encode_jpeg(px)
    with pytest.raises(ValueError):
        decode_jpeg(data[:20])  # truncated before scan
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG1234")  # not a JPEG
    # truncated mid-scan: the bit reader runs off the end
    with pytest.raises(ValueError):
        decode_jpeg(data[: len(data) // 2])


def test_jpeg_appn_comment_skipped():
    px = _smooth(16, 16, 7)
    data = encode_jpeg(px)
    # splice an APP0 + COM right after SOI
    extra = (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02" + b"\x00" * 7
        + b"\xff\xfe" + struct.pack(">H", 7) + b"hello"
    )
    spliced = data[:2] + extra + data[2:]
    assert np.array_equal(decode_jpeg(spliced), decode_jpeg(data))


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(8, 40),
    w=st.integers(8, 40),
    seed=st.integers(0, 2**31 - 1),
    sub=st.booleans(),
)
def test_jpeg_roundtrip_fuzz(h, w, seed, sub):
    px = _smooth(h, w, seed)
    got = decode_jpeg(encode_jpeg(px, subsample=sub))
    assert got.shape == (h, w, 3)
    if sub:
        # 4:2:0 genuinely discards chroma detail (the _smooth fixtures put
        # full-amplitude sinusoids in every channel); the luma path must
        # stay near-exact, the overall error is the subsampling loss.
        lum = np.array([0.299, 0.587, 0.114])
        assert np.max(np.abs(got @ lum - px @ lum)) <= 6
        assert np.mean(np.abs(got.astype(int) - px.astype(int))) <= 30
    else:
        assert np.max(np.abs(got.astype(int) - px.astype(int))) <= 4


def test_jpeg_via_decode_image_and_features():
    # decode_image dispatches JPEG payloads, and the decoded raster gives
    # a real grid feature (no more NotImplementedError for baseline).
    from datasketch_spark.operators.multimodal import decode_image, image_grid_feature

    px = _smooth(24, 32, 9)
    got = decode_image(encode_jpeg(px))
    assert got.shape == (24, 32, 3)
    assert len(image_grid_feature(got)) == 64


def test_jpeg_quality_quantized_roundtrip():
    # Non-trivial DQT values (scaled Annex K table): exercises the
    # dequantize path with realistic sparse blocks, not just unit quant.
    px = _smooth(48, 64, 12)
    q85 = encode_jpeg(px, quality=85)
    got = decode_jpeg(q85)
    assert got.shape == px.shape
    assert np.mean(np.abs(got.astype(int) - px.astype(int))) <= 6
    # Quantization actually bites: markedly smaller stream than q100.
    assert len(q85) < 0.6 * len(encode_jpeg(px))


def test_jpeg_adversarial_header_quarantines_not_oom():
    # A tiny payload whose SOF declares a huge raster must raise
    # ValueError BEFORE any allocation sized by the untrusted dims
    # (code-review r5: np.zeros((67M, 64)) x3 -> MemoryError/OOM-kill).
    px = _smooth(16, 16, 13)
    data = bytearray(encode_jpeg(px))
    i = data.find(b"\xff\xc0")
    struct.pack_into(">HH", data, i + 5, 65535, 65535)
    with pytest.raises(ValueError, match="exceed the decode limit"):
        decode_jpeg(bytes(data))


def test_jpeg_truncated_tables_raise_valueerror():
    # Truncated DHT / SOF segments must honor the ValueError contract,
    # not leak IndexError past the quarantine except-lists.
    px = _smooth(16, 16, 14)
    data = encode_jpeg(px)
    i = data.find(b"\xff\xc4")
    cut_dht = data[: i + 10] + b"\xff\xd9"  # DHT cut mid-counts
    with pytest.raises(ValueError):
        decode_jpeg(cut_dht)
    j = data.find(b"\xff\xc0")
    # ncomp=3 declared but the per-component list is truncated
    cut_sof = data[: j + 12] + b"\xff\xd9"
    with pytest.raises(ValueError):
        decode_jpeg(cut_sof)


# ---------------------------------------------------------------------------
# Progressive encoder (test-side): DC first+refine, per-component AC
# spectral bands, one AC successive-approximation refinement pass.
# ---------------------------------------------------------------------------


class _ProgWriter(_BitWriter):
    """Adds the progressive helpers: EOB-run + buffered correction bits."""

    def __init__(self, ac_map):
        super().__init__()
        self.ac_map = ac_map
        self.eobrun = 0
        self.held = []  # correction bits pending behind the EOB run

    def sym(self, s):
        self.put(*self.ac_map[s])

    def emit_eobrun(self):
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.sym(nbits << 4)
            if nbits:
                self.put(self.eobrun - (1 << nbits), nbits)
            self.eobrun = 0
        for b in self.held:
            self.put(b, 1)
        self.held = []


def _prog_plan(rgb, subsample, quality):
    """Reuse the baseline encoder's plane/quant machinery: returns
    (h, w, sampling, per-comp quantized zigzag blocks in PADDED-grid
    raster order, real block dims, mcus_x/y, qtab)."""
    h, w = rgb.shape[:2]
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
    if subsample:
        sampling = [(2, 2), (1, 1), (1, 1)]
        eh, ew = (h + 1) & ~1, (w + 1) & ~1
        cbp = np.pad(cb, ((0, eh - h), (0, ew - w)), mode="edge")
        crp = np.pad(cr, ((0, eh - h), (0, ew - w)), mode="edge")
        cb = cbp.reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
        cr = crp.reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
    else:
        sampling = [(1, 1)] * 3
    max_h = max(s[0] for s in sampling)
    max_v = max(s[1] for s in sampling)
    mcus_x = -(-w // (8 * max_h))
    mcus_y = -(-h // (8 * max_v))
    if quality >= 100:
        qtab = np.ones((8, 8))
    else:
        scale = 5000 / quality if quality < 50 else 200 - 2 * quality
        qtab = np.clip(np.floor((_STD_LUMA_Q * scale + 50) / 100), 1, 255)
    comps = []
    for px, (hs, vs) in zip([y, cb, cr], sampling):
        pw, ph = mcus_x * hs * 8, mcus_y * vs * 8
        padded = np.pad(
            px, ((0, ph - px.shape[0]), (0, pw - px.shape[1])), mode="edge"
        ) - 128.0
        blks = (
            padded.reshape(ph // 8, 8, pw // 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        )
        q = np.round((_C @ blks @ _C.T) / qtab).astype(np.int64)
        zz = q.reshape(-1, 64)[:, _ZZ]  # padded-grid raster order
        cw, ch = -(-px.shape[1] // 8), -(-px.shape[0] // 8)
        comps.append(
            {"hs": hs, "vs": vs, "zz": zz, "bw": pw // 8, "bh": ph // 8,
             "bw_real": cw, "bh_real": ch}
        )
    return h, w, sampling, comps, mcus_x, mcus_y, qtab


def encode_jpeg_progressive(rgb, subsample=False, quality=90,
                            dc_restart_interval=0):
    """Progressive JFIF: DC(Al=1) -> DC refine -> AC 1..5 and 6..63
    (Al=1) per component -> AC refinement (Ah=1, Al=0) per component.
    ``dc_restart_interval`` > 0 emits RSTn markers in the DC-first scan
    (then redefines DRI to 0 before the later scans) — exercises the
    decoder's per-segment predictor reset in progressive mode."""
    h, w, sampling, comps, mcus_x, mcus_y, qtab = _prog_plan(
        rgb, subsample, quality
    )

    # One flat-9-bit AC table over every symbol any scan can use.
    ac_syms = sorted(
        {0xF0}
        | {r << 4 for r in range(15)}            # EOBn
        | {(r << 4) | s for r in range(16) for s in range(1, 11)}
    )
    assert len(ac_syms) <= 256
    ac_map = {s: (i, 9) for i, s in enumerate(ac_syms)}
    dc_map = _dc_codemap()

    out = bytearray(b"\xff\xd8")
    zz_q = qtab.reshape(-1)[_ZZ].astype(np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz_q
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for ci, (hs, vs) in enumerate(sampling):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    dht = bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_SYMBOLS)
    ac_counts = [0] * 16
    ac_counts[8] = len(ac_syms)
    dht += bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht

    def sos(comp_ids, ss, se, ah, al):
        seg = bytes([len(comp_ids)])
        for cid in comp_ids:
            seg += bytes([cid, 0x00])
        seg += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(seg)) + seg

    def pad_idx(c, by, bx):
        return by * c["bw"] + bx

    # --- scan 1: DC first, interleaved, Al=1 (optional restarts) ---
    if dc_restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dc_restart_interval)
    out += sos([1, 2, 3], 0, 0, 0, 1)
    wtr = _ProgWriter(ac_map)
    preds = [0, 0, 0]
    rst = 0
    mcu_i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (
                dc_restart_interval
                and mcu_i
                and mcu_i % dc_restart_interval == 0
            ):
                wtr.flush()
                out += wtr.out + bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                wtr = _ProgWriter(ac_map)
                preds = [0, 0, 0]
            mcu_i += 1
            for ci, c in enumerate(comps):
                for dy in range(c["vs"]):
                    for dx in range(c["hs"]):
                        dc = int(c["zz"][pad_idx(c, my * c["vs"] + dy, mx * c["hs"] + dx)][0])
                        v = dc >> 1  # arithmetic shift (T.81 DC point transform)
                        s, bits = _mag(v - preds[ci])
                        preds[ci] = v
                        code, ln = dc_map[s]
                        wtr.put(code, ln)
                        if s:
                            wtr.put(bits, s)
    wtr.flush()
    out += wtr.out

    # --- scan 2: DC refinement, Al=0 (one raw bit per block) ---
    if dc_restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, 0)  # DRI back to 0
    out += sos([1, 2, 3], 0, 0, 1, 0)
    wtr = _ProgWriter(ac_map)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for c in comps:
                for dy in range(c["vs"]):
                    for dx in range(c["hs"]):
                        dc = int(c["zz"][pad_idx(c, my * c["vs"] + dy, mx * c["hs"] + dx)][0])
                        wtr.put(dc & 1, 1)
    wtr.flush()
    out += wtr.out

    # --- AC first scans (Al=1), per component, two spectral bands ---
    def ac_first(c, ss, se, al):
        wtr = _ProgWriter(ac_map)
        for by in range(c["bh_real"]):
            for bx in range(c["bw_real"]):
                row = c["zz"][pad_idx(c, by, bx)]
                r = 0
                wrote = False
                for k in range(ss, se + 1):
                    v = int(row[k])
                    t = abs(v) >> al
                    if t == 0:
                        r += 1
                        continue
                    wtr.emit_eobrun()
                    while r > 15:
                        wtr.sym(0xF0)
                        r -= 16
                    s = t.bit_length()
                    wtr.sym((r << 4) | s)
                    bits = t if v > 0 else (-t) + (1 << s) - 1
                    wtr.put(bits, s)
                    r = 0
                    wrote = True
                if r > 0 or not wrote:
                    wtr.eobrun += 1
                    if wtr.eobrun == 0x7FFF:
                        wtr.emit_eobrun()
        wtr.emit_eobrun()
        wtr.flush()
        return wtr.out

    for ci, c in enumerate(comps):
        for band in ((1, 5), (6, 63)):
            out += sos([ci + 1], band[0], band[1], 0, 1)
            out += ac_first(c, band[0], band[1], 1)

    # --- AC refinement (Ah=1, Al=0), per component, full band ---
    def ac_refine(c, ss, se, al):
        wtr = _ProgWriter(ac_map)
        for by in range(c["bh_real"]):
            for bx in range(c["bw_real"]):
                row = c["zz"][pad_idx(c, by, bx)]
                absv = [abs(int(row[k])) >> al for k in range(ss, se + 1)]
                eob_rel = 0
                for i, t in enumerate(absv):
                    if t == 1:
                        eob_rel = i + 1  # position AFTER last new bit
                r = 0
                br = []
                for i, t in enumerate(absv):
                    k = ss + i
                    v = int(row[k])
                    if t == 0:
                        r += 1
                        continue
                    while r > 15 and i < eob_rel:
                        wtr.emit_eobrun()
                        wtr.sym(0xF0)
                        r -= 16
                        for b in br:
                            wtr.put(b, 1)
                        br = []
                    if t > 1:
                        br.append(t & 1)
                        continue
                    wtr.emit_eobrun()
                    wtr.sym((r << 4) | 1)
                    wtr.put(1 if v > 0 else 0, 1)
                    for b in br:
                        wtr.put(b, 1)
                    br = []
                    r = 0
                if r > 0 or br:
                    wtr.eobrun += 1
                    wtr.held.extend(br)
                    if wtr.eobrun == 0x7FFF:
                        wtr.emit_eobrun()
        wtr.emit_eobrun()
        wtr.flush()
        return wtr.out

    for ci, c in enumerate(comps):
        out += sos([ci + 1], 1, 63, 1, 0)
        out += ac_refine(c, 1, 63, 0)

    return bytes(out) + b"\xff\xd9"


def test_jpeg_progressive_roundtrip_444():
    # Progressive must reconstruct the SAME image as baseline at the same
    # quant table: identical coefficients, different scan order.
    px = _smooth(40, 56, 21)
    base = decode_jpeg(encode_jpeg(px, quality=90))
    prog = decode_jpeg(encode_jpeg_progressive(px, quality=90))
    assert np.array_equal(base, prog)


def test_jpeg_progressive_roundtrip_420():
    px = _smooth(33, 41, 22)  # odd dims: MCU padding + real-grid AC scans
    base = decode_jpeg(encode_jpeg(px, subsample=True, quality=85))
    prog = decode_jpeg(
        encode_jpeg_progressive(px, subsample=True, quality=85)
    )
    assert np.array_equal(base, prog)


@settings(max_examples=10, deadline=None)
@given(
    h=st.integers(8, 40),
    w=st.integers(8, 40),
    seed=st.integers(0, 2**31 - 1),
    sub=st.booleans(),
    q=st.sampled_from([75, 90, 100]),
)
def test_jpeg_progressive_equals_baseline_fuzz(h, w, seed, sub, q):
    px = _smooth(h, w, seed)
    base = decode_jpeg(encode_jpeg(px, subsample=sub, quality=q))
    prog = decode_jpeg(encode_jpeg_progressive(px, subsample=sub, quality=q))
    assert np.array_equal(base, prog)


def test_jpeg_progressive_restart_markers():
    # RSTn inside a progressive DC scan: per-segment predictor reset,
    # DRI redefinition between scans, identical reconstruction.
    px = _smooth(48, 48, 23)
    plain = decode_jpeg(encode_jpeg_progressive(px, quality=90))
    with_rst = decode_jpeg(
        encode_jpeg_progressive(px, quality=90, dc_restart_interval=3)
    )
    assert np.array_equal(plain, with_rst)


# ---------------------------------------------------------------------------
# T.81 A.2.3: single-component scans are NON-INTERLEAVED regardless of the
# SOF sampling factors — one block per MCU, raster over the real block
# grid. (r6 fix: grayscale frames declaring 2x2 sampling decoded scrambled
# when dims were multiples of 16 and raised spuriously otherwise.)
# ---------------------------------------------------------------------------


def _encode_gray_sampled(gray, hs, vs, restart_interval=0):
    """Independent encoder: grayscale baseline JFIF whose SOF declares
    (hs, vs) sampling but whose single-component scan follows the spec's
    non-interleaved layout (raster blocks of the REAL grid; each block is
    one restart unit)."""
    h, w = gray.shape
    bw, bh = -(-w // 8), -(-h // 8)
    padded = np.pad(
        gray.astype(np.float64), ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge"
    ) - 128.0
    blks = padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    qtab = np.ones((8, 8))
    ac_syms = _used_ac_symbols([(blks, (1, 1))], qtab)
    ac_map = {s: (i, 9) for i, s in enumerate(ac_syms)}
    dc_map = _dc_codemap()

    out = bytearray(b"\xff\xd8")
    zz_q = qtab.reshape(-1)[_ZZ].astype(np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz_q
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, (hs << 4) | vs, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    dht = bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_SYMBOLS)
    ac_counts = [0] * 16
    ac_counts[8] = len(ac_syms)
    dht += bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00]) + b"\x00\x3f\x00"

    writer = _BitWriter()
    pred = 0
    rst = 0
    for unit in range(bh * bw):
        if restart_interval and unit and unit % restart_interval == 0:
            writer.flush()
            out += writer.out + bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            writer = _BitWriter()
            pred = 0
        by, bx = divmod(unit, bw)
        pred = _encode_blocks(
            writer, [blks[by, bx]], pred, dc_map, ac_map, qtab
        )
    writer.flush()
    out += writer.out + b"\xff\xd9"
    return bytes(out)


def test_jpeg_single_component_sampled_noninterleaved():
    # dims multiple of 16 (the silent-scramble case) and not (the
    # spurious-raise case), plus odd/padded dims.
    for h, w, seed in [(16, 16, 11), (32, 16, 12), (24, 20, 13), (17, 9, 14)]:
        gray = _smooth(h, w, seed)[:, :, 0]
        got = decode_jpeg(_encode_gray_sampled(gray, 2, 2))
        assert got.shape == (h, w, 3)
        assert np.array_equal(got[:, :, 0], got[:, :, 1])
        err = np.max(np.abs(got[:, :, 0].astype(int) - gray.astype(int)))
        assert err <= 3, (h, w, err)


def test_jpeg_single_component_sampled_restart_units_are_blocks():
    # Non-interleaved restart intervals count BLOCKS of the real grid.
    gray = _smooth(24, 20, 15)[:, :, 0]
    plain = decode_jpeg(_encode_gray_sampled(gray, 2, 2))
    with_rst = decode_jpeg(_encode_gray_sampled(gray, 2, 2, restart_interval=4))
    assert np.array_equal(plain, with_rst)


def test_jpeg_single_component_1x1_unchanged():
    # hs=vs=1 single-component: the non-interleaved layout coincides with
    # the old interleaved iteration — decode must stay identical.
    gray = _smooth(24, 24, 3)[:, :, 0]
    got = decode_jpeg(_encode_gray_sampled(gray, 1, 1))
    px = np.repeat(gray[:, :, None], 3, axis=2)
    legacy = decode_jpeg(encode_jpeg(px, gray=True))
    assert np.array_equal(got, legacy)


def test_huffman_cache_lru_no_thrash():
    # Alternating >64 distinct table sets must keep the hot entries
    # resident (LRU eviction), not clear the whole cache (r5 behavior).
    from datasketch_spark.operators import jpeg as J

    J._HUFF_CACHE.clear()
    hot_counts = list(_DC_COUNTS)
    hot = J._huff_lut(hot_counts, bytes(_DC_SYMBOLS))
    for i in range(70):  # 70 distinct one-off tables
        ac_counts = [0] * 16
        ac_counts[8] = 2
        J._huff_lut(ac_counts, bytes([i, 128 + i]))
        # touching the hot table keeps it most-recently-used
        assert J._huff_lut(hot_counts, bytes(_DC_SYMBOLS)) is hot
    assert len(J._HUFF_CACHE) <= 64
