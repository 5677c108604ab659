"""Baseline JPEG codec (operators/jpeg.py): decoder conformance against
hand-packed byte streams built WITHOUT the encoder, encoder/decoder
round-trip properties, and malformed-input rejection — the same evidence
pattern as the GIF/PNG codecs (tests/test_analytics_r4.py)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from slr207_mapreduce_spark.operators.jpeg import (
    AC_LUM_BITS,
    AC_LUM_VALS,
    DC_LUM_BITS,
    DC_LUM_VALS,
    ZIGZAG,
    decode_jpeg_gray,
    encode_jpeg_gray,
)


# --- independent reference IDCT (explicit T.81 A.3.3 double sum, built
# from math.cos — shares nothing with the module's matrix path) -----------


def _ref_idct_block(F):
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * F[u, v]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out[x, y] = s / 4.0
    return np.clip(np.rint(out + 128.0), 0, 255).astype("uint8")


def _bits_to_bytes(bits: str) -> bytes:
    """Pack an MSB-first bit string, 1-padding the tail byte and applying
    0xFF00 stuffing — the test's own packer, not the encoder's."""
    bits = bits + "1" * (-len(bits) % 8)
    out = bytearray()
    for i in range(0, len(bits), 8):
        b = int(bits[i : i + 8], 2)
        out.append(b)
        if b == 0xFF:
            out.append(0x00)
    return bytes(out)


def _container(w: int, h: int, entropy: bytes, dri: int = 0) -> bytes:
    """Hand-built single-component baseline container around the given
    entropy-coded bytes (all-ones quant table, Annex K tables)."""
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + bytes([1, 0x11, 0])
    for cls, bits, vals in (
        (0, DC_LUM_BITS, DC_LUM_VALS),
        (1, AC_LUM_BITS, AC_LUM_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
        out += bytes([cls << 4]) + bytes(bits) + bytes(vals)
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


# Annex K codes used below, derived by hand from the BITS tables:
#   DC cat 0 = '00', cat 5 = '110', cat 11 = '111111110'
#   AC (run 0, size 1) = '00', EOB = '1010'
_DC5, _DC0, _DC11, _AC01, _EOB = "110", "00", "111111110", "00", "1010"


def test_jpeg_decoder_conformance_dc_only():
    """Single 8x8 block, DC diff +16 (cat 5), EOB: every pixel must decode
    to 16/8 + 128 = 130 — pins DCT normalization, the category/extend
    rule, and EOB handling in one shot."""
    payload = _container(8, 8, _bits_to_bytes(_DC5 + "10000" + _EOB))
    got = decode_jpeg_gray(payload)
    assert got.shape == (8, 8)
    assert np.array_equal(got, np.full((8, 8), 130, dtype="uint8"))


def test_jpeg_decoder_conformance_single_ac_vs_reference_idct():
    """DC 0 + one AC coefficient (+1 at zigzag index 1 = natural (0,1)),
    checked against the test's own explicit double-sum IDCT."""
    payload = _container(8, 8, _bits_to_bytes(_DC0 + _AC01 + "1" + _EOB))
    F = np.zeros((8, 8))
    F[0, 1] = 1.0
    assert np.array_equal(decode_jpeg_gray(payload), _ref_idct_block(F))


def test_jpeg_decoder_conformance_restart_and_predictor_reset():
    """Two MCUs with DRI=1: block 1 DC diff +16, RST0, block 2 DC diff
    +16 again — the restart must byte-align and reset the predictor, so
    BOTH blocks decode to 130 (without the reset the second would be
    162: 32/8 + 128)."""
    blk = _bits_to_bytes(_DC5 + "10000" + _EOB)
    payload = _container(16, 8, blk + b"\xff\xd0" + blk, dri=1)
    got = decode_jpeg_gray(payload)
    assert got.shape == (8, 16)
    assert np.array_equal(got, np.full((8, 16), 130, dtype="uint8"))


def test_jpeg_decoder_conformance_byte_stuffing_and_clamp():
    """DC cat 11 ('111111110') makes the first entropy byte 0xFF, forcing
    a 0x00 stuff; value +1024 decodes to 1024/8 + 128 = 256, which must
    clamp to 255. The stream is stuffed by the test's own packer."""
    entropy = _bits_to_bytes(_DC11 + "10000000000" + _EOB)
    assert b"\xff\x00" in entropy, "fixture must actually exercise stuffing"
    got = decode_jpeg_gray(_container(8, 8, entropy))
    assert np.array_equal(got, np.full((8, 8), 255, dtype="uint8"))


def test_jpeg_dc_prediction_across_blocks():
    """Multi-block images encode DC differentially: a 32x16 image with
    distinct constant blocks round-trips exactly only if the predictor
    chain (and its per-row continuation) is right on both sides."""
    vals = np.array([[10, 250, 10, 130], [200, 0, 255, 64]], dtype="int64")
    img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype("uint8")
    assert np.array_equal(decode_jpeg_gray(encode_jpeg_gray(img)), img)


def test_jpeg_non_multiple_of_8_dimensions():
    """Edge-replication padding: odd dimensions survive the round trip on
    the cropped region with the constant-block-exactness guarantee broken
    only by coefficient rounding (bounded, small)."""
    img = np.full((13, 21), 77, dtype="uint8")
    got = decode_jpeg_gray(encode_jpeg_gray(img))
    assert got.shape == (13, 21)
    assert np.array_equal(got, img)  # constant content pads to constant blocks


def test_jpeg_decoder_rejects_malformed():
    """Malformed payloads raise the documented ValueError — wrong SOI,
    truncations at several depths, progressive SOF2, missing DHT, AC run
    past end of block — never struct.error or silent garbage."""
    good = encode_jpeg_gray(np.full((8, 8), 130, dtype="uint8"))
    with pytest.raises(ValueError):
        decode_jpeg_gray(b"\x00\x00" + good[2:])
    for cut in (3, 10, 80, len(good) - 3):
        with pytest.raises(ValueError):
            decode_jpeg_gray(good[:cut])
    # progressive profile must be refused, not mis-decoded
    prog = bytearray(good)
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError):
        decode_jpeg_gray(bytes(prog))
    # scan that references a Huffman table no DHT defined
    nodht = good.replace(b"\xff\xc4", b"\xff\xfe", 2)  # DHT -> COM (skipped)
    with pytest.raises(ValueError):
        decode_jpeg_gray(nodht)
    # AC run past end of block: ZRL x4 (64 zeros don't fit in 63 AC slots)
    from slr207_mapreduce_spark.operators.jpeg import _AC_ENC

    zrl_code, zrl_len = _AC_ENC[0xF0]
    entropy = _bits_to_bytes(_DC0 + format(zrl_code, f"0{zrl_len}b") * 4)
    with pytest.raises(ValueError):
        decode_jpeg_gray(_container(8, 8, entropy))


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 4), st.integers(1, 4), st.integers(0, 2**32 - 1))
def test_jpeg_constant_block_roundtrip_exact(bh, bw, seed):
    """Constant 8x8 blocks + all-ones quant: the lossy pipeline is exactly
    value-preserving (DC = 8*(v-128) an integer, all AC exactly zero) —
    the property the oracled round-trip query stands on."""
    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 256, size=(bh, bw), dtype=np.int64)
    img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype("uint8")
    assert np.array_equal(decode_jpeg_gray(encode_jpeg_gray(img)), img)


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 38), st.integers(1, 38), st.integers(0, 2**32 - 1))
def test_jpeg_arbitrary_content_bounded_error(h, w, seed):
    """Arbitrary content: with the all-ones quant table the only loss is
    coefficient rounding (<=0.5 per coefficient), so the per-pixel error
    is small and bounded; shape must be preserved exactly."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.int64).astype("uint8")
    got = decode_jpeg_gray(encode_jpeg_gray(img))
    assert got.shape == (h, w)
    assert np.abs(got.astype(int) - img.astype(int)).max() <= 3


# --- color (4:2:0 YCbCr) --------------------------------------------------


def _color_mirror(rgb_mcus):
    """Independent double-arithmetic mirror of the constant-MCU color
    pipeline (same expression order as the kernel and the SQL oracle)."""
    mh, mw = rgb_mcus.shape[:2]
    out = np.zeros((mh * 16, mw * 16, 3), dtype="uint8")
    for my in range(mh):
        for mx in range(mw):
            r, g, b = [float(v) for v in rgb_mcus[my, mx]]
            y = np.rint(0.299 * r + 0.587 * g + 0.114 * b)
            cb = np.rint(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0)
            cr = np.rint(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0)
            r2 = np.clip(np.rint(y + 1.402 * (cr - 128.0)), 0, 255)
            g2 = np.clip(
                np.rint(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)), 0, 255
            )
            b2 = np.clip(np.rint(y + 1.772 * (cb - 128.0)), 0, 255)
            out[my * 16 : (my + 1) * 16, mx * 16 : (mx + 1) * 16] = [r2, g2, b2]
    return out


@settings(max_examples=20, deadline=None)
@given(st.integers(1, 3), st.integers(1, 3), st.integers(0, 2**32 - 1))
def test_jpeg_color_constant_mcu_exact(mh, mw, seed):
    """Constant 16x16 MCUs: integer YCbCr planes survive the 4:2:0
    pipeline exactly, so decoded RGB equals the double-arithmetic mirror
    bit-for-bit — the property the color round-trip oracle stands on.
    Multi-MCU shapes exercise all three DC predictor chains and the
    interleave order."""
    from slr207_mapreduce_spark.operators.jpeg import (
        decode_jpeg_color,
        encode_jpeg_color,
    )

    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 256, size=(mh, mw, 3), dtype=np.int64)
    img = np.repeat(np.repeat(vals, 16, axis=0), 16, axis=1).astype("uint8")
    dec = decode_jpeg_color(encode_jpeg_color(img))
    assert np.array_equal(dec, _color_mirror(vals))


def test_jpeg_color_smooth_luma_bounded():
    """A gray gradient as RGB: luma varies (DCT rounding error bounded),
    chroma is exactly 128 everywhere — decoded channels must agree with
    the source within the coefficient-rounding budget on every channel."""
    from slr207_mapreduce_spark.operators.jpeg import (
        decode_jpeg_color,
        encode_jpeg_color,
    )

    v = ((np.arange(32)[:, None] * 3 + np.arange(48)[None, :] * 2) % 256).astype(
        "uint8"
    )
    img = np.stack([v, v, v], axis=-1)
    dec = decode_jpeg_color(encode_jpeg_color(img))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 3


def test_jpeg_color_rejects_and_gray_interop():
    """decode_jpeg_color refuses single-component payloads (and vice
    versa the gray decoder refuses none it shouldn't); truncated color
    payloads raise ValueError; the color stream structurally carries 2
    DQTs and 4 DHTs (both table classes, both slots)."""
    from slr207_mapreduce_spark.operators.jpeg import (
        decode_jpeg_color,
        decode_jpeg_gray,
        encode_jpeg_color,
        encode_jpeg_gray,
    )

    gray = encode_jpeg_gray(np.full((8, 8), 7, dtype="uint8"))
    with pytest.raises(ValueError):
        decode_jpeg_color(gray)
    color = encode_jpeg_color(np.full((16, 16, 3), 77, dtype="uint8"))
    with pytest.raises(ValueError):
        decode_jpeg_gray(color)  # 3-component scan in the 1-component API
    for cut in (3, 30, 200, len(color) - 3):
        with pytest.raises(ValueError):
            decode_jpeg_color(color[:cut])
    assert color.count(b"\xff\xdb") == 2
    assert color.count(b"\xff\xc4") == 4


# --- vectorized entropy coder bit-parity (r10, VERDICT r09 item 5) --------
# The encoders now run one vectorized _entropy_encode_images pass; the
# retired per-coefficient loop (_BitWriter + _emit_block) stays in the
# module as the REFERENCE implementation, and this test pins byte
# equality of whole JPEG streams across image classes (smooth DC-only,
# noise with dense ACs and ZRL runs, checkerboard extremes, constants).


def _ref_gray_stream(img):
    """encode_jpeg_gray rebuilt on the reference _emit_block loop. Shares
    the production DCT (J._encode_plane_blocks) so the parity pin is the
    ENTROPY CODER alone — the DCT itself produces exact half-integer
    coefficients on integer inputs, where an einsum-vs-matmul ulp decides
    the round-half-even direction (both are valid encodings; the codec
    only ever compares against its own transform)."""
    from slr207_mapreduce_spark.operators import jpeg as J

    a = np.asarray(img, dtype="uint8")
    h, w = a.shape
    ph, pw = -h % 8, -w % 8
    if ph or pw:
        a = np.pad(a, ((0, ph), (0, pw)), mode="edge")
    bh, bw = a.shape[0] // 8, a.shape[1] // 8
    q = J._encode_plane_blocks(a)
    bw_ = J._BitWriter()
    pred = 0
    zz = J._zigzag_idx()
    for by in range(bh):
        for bx in range(bw):
            z = q[by, bx].reshape(-1)[zz]
            pred = J._emit_block(bw_, z, pred, J._DC_ENC, J._AC_ENC)
    return bw_.flush()


def _ref_color_stream(rgb):
    """encode_jpeg_color's entropy segment rebuilt on _emit_block."""
    from slr207_mapreduce_spark.operators import jpeg as J

    a = np.asarray(rgb, dtype="uint8")
    h, w = a.shape[:2]
    ph, pw = -h % 16, -w % 16
    if ph or pw:
        a = np.pad(a, ((0, ph), (0, pw), (0, 0)), mode="edge")
    y, cb, cr = J.rgb_to_ycbcr_int(a)

    def sub(p):
        q = p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).astype("float64")
        return np.rint(q.mean(axis=(1, 3))).astype("int64")

    yb = J._encode_plane_blocks(y)
    cbb = J._encode_plane_blocks(sub(cb))
    crb = J._encode_plane_blocks(sub(cr))
    zz = list(J.ZIGZAG)
    bw_ = J._BitWriter()
    preds = [0, 0, 0]
    mh, mw = a.shape[0] // 16, a.shape[1] // 16
    for my in range(mh):
        for mx in range(mw):
            for by, bx in ((0, 0), (0, 1), (1, 0), (1, 1)):
                z = yb[my * 2 + by, mx * 2 + bx].reshape(-1)[zz]
                preds[0] = J._emit_block(bw_, z, preds[0], J._DC_ENC, J._AC_ENC)
            z = cbb[my, mx].reshape(-1)[zz]
            preds[1] = J._emit_block(bw_, z, preds[1], J._DC_CHROM_ENC, J._AC_CHROM_ENC)
            z = crb[my, mx].reshape(-1)[zz]
            preds[2] = J._emit_block(bw_, z, preds[2], J._DC_CHROM_ENC, J._AC_CHROM_ENC)
    return bw_.flush()


def test_vectorized_entropy_coder_bit_parity_gray():
    from slr207_mapreduce_spark.operators.jpeg import encode_jpeg_gray

    rng = np.random.RandomState(101)
    imgs = [
        rng.randint(0, 256, (40, 56)).astype("uint8"),       # dense ACs
        np.zeros((24, 24), dtype="uint8"),                   # all-zero
        np.full((16, 40), 255, dtype="uint8"),               # constant
        (np.indices((32, 32)).sum(0) % 2 * 255).astype("uint8"),  # extremes
        rng.randint(0, 256, (17, 23)).astype("uint8"),       # edge padding
        np.repeat(np.repeat(
            rng.randint(0, 256, (3, 4)).astype("uint8"), 8, 0), 8, 1),  # DC-only
    ]
    for img in imgs:
        full = encode_jpeg_gray(img)
        ref = _ref_gray_stream(img)
        assert ref in full, "entropy segment diverged from _emit_block loop"
        # the segment sits between SOS payload and EOI — check placement
        assert full.endswith(ref + b"\xff\xd9")


def test_vectorized_entropy_coder_bit_parity_color():
    from slr207_mapreduce_spark.operators.jpeg import encode_jpeg_color

    rng = np.random.RandomState(202)
    imgs = [
        rng.randint(0, 256, (32, 48, 3)).astype("uint8"),
        np.zeros((16, 16, 3), dtype="uint8"),
        (np.indices((32, 32)).sum(0)[..., None] % 2 * 255).repeat(3, -1).astype("uint8"),
        rng.randint(0, 256, (19, 21, 3)).astype("uint8"),  # pad to 32x32
        np.repeat(np.repeat(
            rng.randint(0, 256, (2, 3, 3)).astype("uint8"), 16, 0), 16, 1),
    ]
    for img in imgs:
        full = encode_jpeg_color(img)
        ref = _ref_color_stream(img)
        assert full.endswith(ref + b"\xff\xd9")


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 40), st.integers(1, 40))
def test_vectorized_entropy_coder_parity_fuzz(seed, h, w):
    """Property fuzz: arbitrary-size random gray images (including the
    edge-replication padding path) produce byte-identical streams."""
    from slr207_mapreduce_spark.operators.jpeg import encode_jpeg_gray

    img = np.random.RandomState(seed).randint(0, 256, (h, w)).astype("uint8")
    assert encode_jpeg_gray(img).endswith(_ref_gray_stream(img) + b"\xff\xd9")


def test_batch_encoders_match_single_image_paths():
    """encode_jpeg_{gray,color}_batch over mixed shapes must be
    byte-identical per image to one-at-a-time encoding (grouping,
    per-image DC predictor reset, per-image padding and stuffing)."""
    from slr207_mapreduce_spark.operators.jpeg import (
        encode_jpeg_color_batch,
        encode_jpeg_gray_batch,
    )

    rng = np.random.RandomState(55)
    grays = [
        rng.randint(0, 256, (rng.randint(1, 41), rng.randint(1, 41))).astype("uint8")
        for _ in range(23)
    ] + [np.full((16, 16), 200, dtype="uint8")] * 3  # duplicate shapes
    assert encode_jpeg_gray_batch(grays) == [
        encode_jpeg_gray_batch([g])[0] for g in grays
    ]
    colors = [
        rng.randint(0, 256, (rng.randint(1, 41), rng.randint(1, 41), 3)).astype(
            "uint8"
        )
        for _ in range(17)
    ]
    assert encode_jpeg_color_batch(colors) == [
        encode_jpeg_color_batch([c])[0] for c in colors
    ]


# --- r10 review-fix pins -------------------------------------------------


def test_corrupt_dht_raises_valueerror_not_indexerror():
    """A corrupt DHT (oversubscribed BITS, or BITS declaring more values
    than the segment carries) must fail with the decoder's documented
    ValueError — the window-table build must never let an IndexError
    escape."""
    from slr207_mapreduce_spark.operators.jpeg import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    good = encode_jpeg_gray(np.full((8, 8), 130, dtype="uint8"))
    dht = good.index(b"\xff\xc4")
    # BITS[1] (2nd length bucket) of the DC table lives at dht+6; bump it
    # so the canonical code space oversubscribes
    for delta in (0x40, 0x7F):
        bad = bytearray(good)
        bad[dht + 6] = delta
        with pytest.raises(ValueError):
            decode_jpeg_gray(bytes(bad))


def test_bitreader_acc_stays_bounded():
    """The reader masks consumed bits out of `acc` on every fill — without
    it the accumulator grows into an unbounded bignum and decode goes
    quadratic in segment size (measured 46 s for a 414 KB segment)."""
    from slr207_mapreduce_spark.operators.jpeg import _BitReader

    rd = _BitReader(bytes(range(256)) * 64, 0)
    for _ in range(4000):
        rd.peek16()
        rd.skip(3)
    assert rd.acc.bit_length() <= 32


def test_pixel_chunks_bounded_both_directions():
    """Tiny images amortize (many per chunk); big images fall back to
    per-image chunks instead of a multi-GB 64-image stack."""
    from slr207_mapreduce_spark.operators.jpeg import _pixel_chunks

    tiny = _pixel_chunks(list(range(1000)), 8 * 8)
    assert len(tiny[0]) >= 500  # thousands of 64px images per chunk
    big = _pixel_chunks(list(range(10)), 2048 * 2048)
    assert all(len(c) == 1 for c in big)
    assert sum(len(c) for c in tiny) == 1000 and sum(len(c) for c in big) == 10


def test_large_noise_image_decode_scales_linearly():
    """Asymptotic guard for the quadratic-acc fix (r10 ADVICE: the previous
    absolute <2.0 s wall could flake on a slow host despite real headroom).
    The unmasked bignum reader scaled ~quadratically in segment size
    (~16x wall for 4x the pixels); the fixed reader is linear (~4x). Pin
    the EXPONENT: decode wall from 128px to 256px noise (4x data) must
    grow by well under the quadratic 16x, min-of-3 to damp host noise."""
    import time

    from slr207_mapreduce_spark.operators.jpeg import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    rng = np.random.RandomState(9)
    small = encode_jpeg_gray(rng.randint(0, 256, (128, 128)).astype("uint8"))
    img = rng.randint(0, 256, (256, 256)).astype("uint8")
    big = encode_jpeg_gray(img)

    def wall(payload):
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            decode_jpeg_gray(payload)
            best = min(best, time.perf_counter() - t0)
        return best

    t_small, t_big = wall(small), wall(big)
    assert t_big < 8 * t_small, (t_small, t_big)  # linear ~4x; quadratic ~16x
    got = decode_jpeg_gray(big)
    assert np.abs(got.astype(int) - img.astype(int)).max() <= 3


def test_exhaustive_corruption_fuzz_error_contract():
    """EVERY single-bit corruption and EVERY truncation of a valid payload
    either decodes (bit flips in entropy data legitimately change pixels)
    or raises the decoder's documented ValueError — never IndexError /
    struct.error / OverflowError (each of which a pre-hardening fuzz
    actually produced: short SOF0/DQT/DRI/SOS segments, truncated DHT
    BITS, and corrupt DHT symbols driving a bignum DC predictor)."""
    from slr207_mapreduce_spark.operators.jpeg import (
        decode_jpeg_color,
        decode_jpeg_gray,
        encode_jpeg_color,
        encode_jpeg_gray,
    )

    rng = np.random.RandomState(21)
    g = encode_jpeg_gray(rng.randint(0, 256, (16, 16)).astype("uint8"))
    c = encode_jpeg_color(rng.randint(0, 256, (16, 16, 3)).astype("uint8"))

    for i in range(len(g)):
        for bit in range(8):
            p = bytearray(g)
            p[i] ^= 1 << bit
            try:
                decode_jpeg_gray(bytes(p))
            except ValueError:
                pass
    for i in range(len(c)):
        for bit in (0, 3, 7):
            p = bytearray(c)
            p[i] ^= 1 << bit
            try:
                decode_jpeg_color(bytes(p))
            except ValueError:
                pass
    for k in range(2, len(g)):
        with pytest.raises(ValueError):
            decode_jpeg_gray(g[:k])
    for k in range(2, len(c)):
        with pytest.raises(ValueError):
            decode_jpeg_color(c[:k])


def _decode_test_classes():
    rng = np.random.RandomState(31)
    gray = [
        np.add.outer(np.arange(24), np.arange(40)).astype("uint8"),  # smooth
        rng.randint(0, 256, (64, 48)).astype("uint8"),  # noise
        (np.indices((40, 56)).sum(0) % 2 * 255).astype("uint8"),  # checker
        rng.randint(0, 256, (23, 17)).astype("uint8"),  # odd size
        np.full((16, 16), 77, dtype="uint8"),  # constant
        rng.randint(0, 256, (128, 128)).astype("uint8"),  # big straggler
    ]
    color = [
        np.add.outer(np.arange(32), np.arange(32))[..., None]
        .repeat(3, axis=-1)
        .astype("uint8"),
        rng.randint(0, 256, (64, 48, 3)).astype("uint8"),
        rng.randint(0, 256, (33, 31, 3)).astype("uint8"),
        np.full((32, 32, 3), 200, dtype="uint8"),
        rng.randint(0, 256, (96, 80, 3)).astype("uint8"),
    ]
    return gray, color


def test_batch_decoders_match_single_image_paths():
    """The cohort batch decoders must be byte-identical to the scalar
    decoders across the image classes (smooth/noise/checkerboard/odd-size/
    constant), in one mixed-shape batch, wide enough that the lockstep
    path actually engages plus a straggler that exercises the long-tail
    scalar handoff."""
    from slr207_mapreduce_spark.operators.jpeg import (
        decode_jpeg_color,
        decode_jpeg_color_batch,
        decode_jpeg_gray,
        decode_jpeg_gray_batch,
        encode_jpeg_color_batch,
        encode_jpeg_gray_batch,
    )

    gray, color = _decode_test_classes()
    # pad with doc-style tiny tiles so the cohort path engages for sure
    for d in range(80):
        w, h = 8 * (1 + d % 3), 8 * (1 + d % 2)
        b = np.arange((h // 8) * (w // 8), dtype="int64")
        vals = ((d * 7 + 13 * b) % 256).reshape(h // 8, w // 8)
        gray.append(np.repeat(np.repeat(vals, 8, 0), 8, 1).astype("uint8"))
    gb = encode_jpeg_gray_batch(gray)
    singles = [decode_jpeg_gray(p) for p in gb]
    batched = decode_jpeg_gray_batch(gb)
    assert len(singles) == len(batched)
    for i, (a, b) in enumerate(zip(singles, batched)):
        assert a.dtype == b.dtype and a.shape == b.shape, i
        assert np.array_equal(a, b), i

    for d in range(80):
        w, h = 16 * (1 + d % 2), 16 * (1 + d % 3)
        mh, mw = h // 16, w // 16
        b = np.arange(mh * mw, dtype="int64").reshape(mh, mw)
        rgb = np.stack(
            [(d * 3 + 11 * b) % 256, (d * 5 + 17 * b) % 256, (d * 7 + 23 * b) % 256],
            -1,
        )
        color.append(np.repeat(np.repeat(rgb, 16, 0), 16, 1).astype("uint8"))
    cb = encode_jpeg_color_batch(color)
    singles = [decode_jpeg_color(p) for p in cb]
    batched = decode_jpeg_color_batch(cb)
    for i, (a, b) in enumerate(zip(singles, batched)):
        assert a.dtype == b.dtype and a.shape == b.shape, i
        assert np.array_equal(a, b), i


@pytest.mark.slow  # >30 s scale/e2e leg (r15 VERDICT item 2)
def test_batch_decoder_error_contract_matches_single():
    """For corrupted/truncated members of a batch, the batch decoder must
    behave exactly like the per-blob scalar loop it replaced: succeed with
    identical bytes where the scalar succeeds, raise the scalar's
    documented ValueError where it raises — sweeping truncations at every
    depth and bitflips at every byte of a gray payload inside a batch of
    valid companions."""
    from slr207_mapreduce_spark.operators.jpeg import (
        decode_jpeg_gray,
        decode_jpeg_gray_batch,
        encode_jpeg_gray,
        encode_jpeg_gray_batch,
    )

    rng = np.random.RandomState(5)
    base = encode_jpeg_gray(rng.randint(0, 256, (16, 24)).astype("uint8"))
    good = encode_jpeg_gray_batch(
        [rng.randint(0, 256, (16, 16)).astype("uint8") for _ in range(8)]
    )

    def check(mutant: bytes):
        try:
            want = decode_jpeg_gray(mutant)
            err = None
        except ValueError as e:
            want, err = None, e
        if err is None:
            got = decode_jpeg_gray_batch(good + [mutant])
            assert np.array_equal(got[-1], want)
        else:
            with pytest.raises(ValueError):
                decode_jpeg_gray_batch(good + [mutant])

    for k in range(2, len(base)):
        check(base[:k])
    for i in range(len(base)):
        p = bytearray(base)
        p[i] ^= 0x41
        check(bytes(p))


def test_batch_decoder_restart_intervals_match_scalar():
    """DRI payloads ride the cohort as per-interval streams (r11) and must
    stay byte-identical to the scalar decoder: a declared-but-never-fired
    interval, real multi-interval streams with RST0.. markers and DC
    predictor resets, and a corrupted RST chain (both paths raise)."""
    from slr207_mapreduce_spark.operators.jpeg import (
        decode_jpeg_gray,
        decode_jpeg_gray_batch,
        encode_jpeg_gray,
    )

    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, (16, 16)).astype("uint8")
    p = encode_jpeg_gray(img)
    # splice DRI (interval 8 > total 4 blocks: declared but never fired)
    with_dri = p[:2] + b"\xff\xdd\x00\x04\x00\x08" + p[2:]
    want = decode_jpeg_gray(with_dri)
    got = decode_jpeg_gray_batch([with_dri, p])
    assert np.array_equal(got[0], want)
    assert np.array_equal(got[1], decode_jpeg_gray(p))

    # real multi-interval stream: 4 blocks at DRI=1 — every block its own
    # byte-aligned interval with a fresh DC predictor (conformance-test
    # construction: DC diff +16 per block, so a missed predictor reset
    # would shift every block after the first)
    blk = _bits_to_bytes(_DC5 + "10000" + _EOB)
    ent = blk
    for t in range(3):
        ent += bytes([0xFF, 0xD0 + t]) + blk
    multi = _container(32, 8, ent, dri=1)
    want = decode_jpeg_gray(multi)
    assert np.array_equal(want, np.full((8, 32), 130, dtype="uint8"))
    batch = decode_jpeg_gray_batch([multi] * 40 + [p])
    for got_i in batch[:40]:
        assert np.array_equal(got_i, want)

    # corrupted RST chain (RST0 where RST1 is due): both paths must raise
    bad = multi.replace(bytes([0xFF, 0xD1]), bytes([0xFF, 0xD0]))
    with pytest.raises(ValueError):
        decode_jpeg_gray(bad)
    with pytest.raises(ValueError):
        decode_jpeg_gray_batch([p, bad])

    # color branch of the DRI path (declared, never fired at 4 MCUs)
    from slr207_mapreduce_spark.operators.jpeg import (
        decode_jpeg_color,
        decode_jpeg_color_batch,
        encode_jpeg_color,
    )

    cimg = rng.randint(0, 256, (32, 32, 3)).astype("uint8")
    cp = encode_jpeg_color(cimg)
    c_dri = cp[:2] + b"\xff\xdd\x00\x04\x00\x08" + cp[2:]
    assert np.array_equal(
        decode_jpeg_color_batch([c_dri, cp])[0], decode_jpeg_color(c_dri)
    )
