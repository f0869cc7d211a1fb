"""Unit tests for the dependency-free real codecs (r7): P6 PPM header
parser + raster stats, stdlib wave RIFF/PCM roundtrip, and the
real_decode dispatch.  The oracle-parity harness covers the Spark
plumbing; these pin the parsers on adversarial payloads directly."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (
    HAVE_PIL,
    _PNG_SIG,
    _png_chunk,
    decode_png,
    decode_ppm,
    decode_wav,
    encode_png,
    encode_ppm,
    encode_wav,
    real_decode,
)


@pytest.mark.parametrize(
    "doc_id",
    # fill bytes that are ASCII whitespace (9 tab, 10 LF, 13 CR, 32
    # space): a split()-based header parse would eat the raster head
    [9, 10, 13, 32, 0, 255, 7, 1000 + 10],
)
def test_ppm_roundtrip_whitespace_fills(doc_id):
    payload = encode_ppm(doc_id, 130)
    w, h, n, mean, mx = decode_ppm(payload)
    assert (w, h) == (130 % 64 + 1, doc_id % 48 + 1)
    assert n == w * h * 3
    assert mean == float(doc_id % 256)
    assert mx == doc_id % 256


def test_ppm_rejects_non_p6():
    with pytest.raises(ValueError):
        decode_ppm(b"P5\n2 2\n255\n\x00" * 4)


def test_wav_roundtrip():
    payload = encode_wav(37, 123)
    nch, sw, rate, nf, dur, peak = decode_wav(payload)
    assert (nch, sw, rate) == (1, 2, 8000)
    assert nf == 123 % 400 + 50
    assert dur == round(nf * 1000.0 / 8000, 3)
    assert peak == 37 % 100 + 1
    # it really is a RIFF container
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"


def test_real_decode_dispatches_builtin_codecs_without_pil():
    assert real_decode(encode_ppm(5, 70)) == (70 % 64 + 1, 5 % 48 + 1)
    # PNG and baseline JPEG route to the builtin stdlib decoders (r8)
    assert real_decode(encode_png(5, 70)) == (70 % 64 + 1, 5 % 48 + 1)
    from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (
        encode_jpeg,
    )

    assert real_decode(encode_jpeg(5, 70)) == ((70 % 8 + 1) * 8, (5 % 6 + 1) * 8)
    if not HAVE_PIL:
        with pytest.raises(NotImplementedError):
            real_decode(b"RIFF....WEBPVP8 not really")  # PIL-tier magic


# --------------------------------------------------------------------------
# PNG (r8): stdlib-zlib decoder — chunk walk + CRC + inflate + 5 filters
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    # heights >= 5 exercise all five filters (encoder uses y % 5);
    # 255/256 cross the fill-value wraparound, 0/1 hit degenerate dims
    ("doc_id", "n_chars"),
    # 228/253: the 255->0 fill wraparound lands on an Average-filtered
    # row, which caught a real defilter bug (reconstructed bytes must
    # reduce mod 256 BEFORE feeding the next pixel's predictor — an
    # unreduced 256 poisoned Average/Paeth three bytes later); 250/999
    # wrap on the benign Sub/None rows, the rest are dimension edges
    [
        (0, 0),
        (1, 1),
        (4, 63),
        (47, 64),
        (228, 17),
        (250, 127),
        (253, 100),
        (255, 5000),
        (999, 13),
    ],
)
def test_png_roundtrip_matches_synthesis(doc_id, n_chars):
    w, h, mean, mx, s = decode_png(encode_png(doc_id, n_chars))
    W, H = n_chars % 64 + 1, doc_id % 48 + 1
    vals = [(doc_id + y) % 256 for y in range(H)]
    assert (w, h) == (W, H)
    assert abs(mean - sum(vals) / H) < 1e-9
    assert mx == max(vals)
    assert s == sum(v * W * 3 for v in vals)


def test_png_crc_corruption_detected():
    p = bytearray(encode_png(7, 100))
    p[p.find(b"IDAT") + 10] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(p))


def test_png_rejects_subbyte_depth_and_bad_signature():
    """Adam7 and depth 16 decode since r9, so the loud-rejection pins
    move to the genuinely unsupported variants: sub-byte depths,
    16-bit PALETTE (forbidden by spec), and unknown interlace
    methods."""
    import struct

    ihdr = struct.pack(">IIBBBBB", 2, 2, 4, 0, 0, 0, 0)  # 4-bit depth
    with pytest.raises(NotImplementedError):
        decode_png(_PNG_SIG + _png_chunk(b"IHDR", ihdr))
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)  # 16-bit palette
    with pytest.raises(NotImplementedError):
        decode_png(_PNG_SIG + _png_chunk(b"IHDR", ihdr))
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 2)  # bogus interlace
    with pytest.raises(NotImplementedError):
        decode_png(_PNG_SIG + _png_chunk(b"IHDR", ihdr))
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


@pytest.mark.parametrize(("ctype", "bpp"), [(0, 1), (6, 4)])
def test_png_generic_color_types(ctype, bpp):
    """The defilter loop is generic over samples-per-pixel: hand-built
    gray and RGBA payloads (varying pixels, filter None) decode with
    exact raster statistics."""
    import struct
    import zlib

    w, h = 3, 4
    rows = bytearray()
    for y in range(h):
        rows.append(0)
        rows.extend([(y * 10 + x) % 256 for x in range(w * bpp)])
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(rows)))
        + _png_chunk(b"IEND", b"")
    )
    w2, h2, _mean, mx, s = decode_png(png)
    exp = [(y * 10 + x) % 256 for y in range(h) for x in range(w * bpp)]
    assert (w2, h2) == (w, h) and s == sum(exp) and mx == max(exp)


# --------------------------------------------------------------------------
# JPEG (r8): stdlib-only baseline decoder — markers + DHT Huffman +
# dequant + exact orthonormal IDCT
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    _IDCT_M,
    _JPEG_AC_BITS,
    _JPEG_AC_VALS,
    _JPEG_DC_BITS,
    _JPEG_DC_VALS,
    _JPEG_QAC,
    _JPEG_QDC,
    _JPEG_ZIGZAG,
    _jpeg_canonical,
    _jpeg_segment,
    _JpegBitWriter,
    decode_jpeg,
    encode_jpeg,
)


@pytest.mark.parametrize(
    ("doc_id", "n_chars"),
    # 250/255: the per-block-row fill wraps 255 -> 0 (largest |DC diff|
    # categories); 0/1: degenerate dims; 128: fill crosses the level
    # shift's zero
    [(0, 0), (1, 7), (5, 63), (127, 8), (128, 1), (250, 5000), (255, 12)],
)
def test_jpeg_roundtrip_matches_synthesis(doc_id, n_chars):
    w, h, mean, mx, s = decode_jpeg(encode_jpeg(doc_id, n_chars))
    W, HB = (n_chars % 8 + 1) * 8, doc_id % 6 + 1
    vals = [(doc_id + r) % 256 for r in range(HB)]
    assert (w, h) == (W, HB * 8)
    assert abs(mean - sum(vals) / HB) < 1e-9
    assert mx == max(vals)
    assert s == sum(v * W * 8 for v in vals)


def _handmade_jpeg(zz_blocks):
    """A single-component 8x8-per-block baseline JPEG whose entropy
    data encodes the given zigzag coefficient lists verbatim (DC first,
    already as quantized codes) — exercises the AC run/size, ZRL, and
    EOB paths the flat-block encoder never emits."""
    import struct

    import numpy as np

    dc_codes = _jpeg_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    pred = 0
    for zz in zz_blocks:
        diff = zz[0] - pred
        pred = zz[0]
        t = abs(diff).bit_length()
        c, ln = dc_codes[t]
        bw.write(c, ln)
        if t:
            bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
        k = 1
        while k < 64:
            if not any(zz[k:]):
                c, ln = ac_codes[0x00]
                bw.write(c, ln)  # EOB
                break
            run = 0
            while zz[k] == 0:
                run += 1
                k += 1
            while run >= 16:
                c, ln = ac_codes[0xF0]
                bw.write(c, ln)  # ZRL
                run -= 16
            v = zz[k]
            t = abs(v).bit_length()
            c, ln = ac_codes[(run << 4) | t]
            bw.write(c, ln)
            bw.write(v if v >= 0 else v + (1 << t) - 1, t)
            k += 1
        else:
            pass
    n = len(zz_blocks)
    w, h = 8 * n, 8
    qtab = bytes([0]) + bytes([_JPEG_QDC] + [_JPEG_QAC] * 63)
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    return (
        b"\xff\xd8"
        + _jpeg_segment(0xDB, qtab)
        + _jpeg_segment(0xC0, sof)
        + _jpeg_segment(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
        + _jpeg_segment(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
        + _jpeg_segment(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bw.flush()
        + b"\xff\xd9"
    )


def test_jpeg_ac_coefficients_against_numpy_idct_reference():
    """The AC path (run/size codes, EXTEND of negative values, ZRL,
    mid-block EOB) decoded against an independent numpy IDCT of the
    same dequantized coefficients."""
    import numpy as np

    zz1 = [0] * 64
    zz1[0] = 17   # DC code
    zz1[1] = 3    # AC (0,2)
    zz1[2] = -5   # AC (0,3) negative -> EXTEND
    zz1[5] = 1    # after a 2-zero run -> (2,1) = 0x21 code
    zz2 = [0] * 64
    zz2[0] = -9
    zz2[18] = -1  # 17 zeros first: ZRL + (1,1) = 0x11
    payload = _handmade_jpeg([zz1, zz2])
    w, h, mean, mx, s = decode_jpeg(payload)
    assert (w, h) == (16, 8)
    # independent reference: dezigzag, dequantize, orthonormal IDCT
    raster = np.zeros((8, 16))
    for b, zz in enumerate([zz1, zz2]):
        nat = np.zeros(64)
        nat[_JPEG_ZIGZAG] = zz
        q = np.full(64, _JPEG_QAC)
        q[0] = _JPEG_QDC
        coef = (nat * q[np.argsort(np.argsort(np.arange(64)))]).reshape(8, 8)
        # q is natural-order constant except DC, so the simple form:
        coef = nat.reshape(8, 8) * _JPEG_QAC
        coef[0, 0] = nat.reshape(8, 8)[0, 0] * _JPEG_QDC
        raster[:, b * 8 : b * 8 + 8] = np.clip(
            np.round(_IDCT_M @ coef @ _IDCT_M.T + 128), 0, 255
        )
    assert abs(mean - raster.mean()) < 1e-9
    assert mx == int(raster.max())
    assert s == int(raster.sum())


def test_jpeg_rejects_progressive_and_garbage():
    import struct

    sof2 = _jpeg_segment(0xC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    with pytest.raises(NotImplementedError):
        decode_jpeg(b"\xff\xd8" + sof2)
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")


def test_jpeg_restart_intervals_roundtrip():
    """DRI/RSTn support (r8): streams with restart markers every N MCUs
    (byte realignment + DC predictor reset at each RSTn, marker ids
    cycling D0..D7) decode identically to the unrestarted stream."""
    for doc_id, n_chars, interval in [(5, 63, 2), (250, 5000, 1), (999, 20, 3)]:
        plain = decode_jpeg(encode_jpeg(doc_id, n_chars))
        rst = decode_jpeg(encode_jpeg(doc_id, n_chars, restart_interval=interval))
        assert rst == plain
        # the restarted stream really carries RST markers
        p = encode_jpeg(doc_id, n_chars, restart_interval=interval)
        assert any(
            p[i] == 0xFF and 0xD0 <= p[i + 1] <= 0xD7 for i in range(2, len(p) - 2)
        )


# --------------------------------------------------------------------------
# r9: AC-coefficient and YCbCr color JPEG paths (oracle-backed synthesis)
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    _jpeg_ac_coeffs,
    _jpeg_parse,
    _jpeg_quad_sums,
    decode_jpeg_color,
    encode_jpeg_color,
)


def _predict_ac(doc_id, n_chars):
    """Closed-form prediction of the ac=True synthesis (mirrors the
    DuckDB oracle of multimodal_jpeg_ac_decode, independently of both
    the encoder and the decoder)."""
    wb, hb = n_chars % 8 + 1, doc_id % 6 + 1
    total = mx = ach = acv = acd = 0
    for r in range(hb):
        fill = 64 + (doc_id + r) % 128
        for c in range(wb):
            qh, qv, qd = _jpeg_ac_coeffs(doc_id, r, c)
            ah, av, ad = 2 * qh, 2 * qv, 2 * qd
            total += 64 * fill
            mx = max(
                mx, fill + max(ah + av + ad, ah - av - ad, -ah + av - ad, -ah - av + ad)
            )
            ach += 64 * ah
            acv += 64 * av
            acd += 64 * ad
    return wb * 8, hb * 8, total, mx, ach, acv, acd


@pytest.mark.parametrize(
    ("doc_id", "n_chars", "rst"),
    [(0, 0, 0), (1, 7, 2), (17, 70, 0), (123, 255, 2), (999, 3, 1), (4242, 63, 3)],
)
def test_jpeg_ac_roundtrip_matches_closed_form(doc_id, n_chars, rst):
    """Non-flat blocks: three nonzero AC coefficients per block (runs
    9, 3 and ZRL+8) decode to the closed-form raster — pixel_sum sees
    the fill only, the quad sums read back each AC coefficient."""
    p = encode_jpeg(doc_id, n_chars, restart_interval=rst, ac=True)
    w, h, planes = _jpeg_parse(p)
    assert len(planes) == 1
    y = planes[0][1]
    got = (w, h, int(y.sum()), int(y.max()), *_jpeg_quad_sums(y))
    assert got == _predict_ac(doc_id, n_chars)
    # the stream really carries ZRL bytes-wise impossible to verify, but
    # it must be LONGER than the flat stream of the same dims (per-block
    # AC symbols) — guards against silently reverting to EOB-only
    assert len(p) > len(encode_jpeg(doc_id, n_chars, restart_interval=rst))


def test_jpeg_ac_raster_matches_numpy_idct():
    """The closed-form sign-pattern algebra itself double-checked
    against a brute-force numpy IDCT of the declared coefficients."""
    import numpy as np

    doc_id, n_chars = 77, 9  # 2x... wb=2, hb=6 blocks
    p = encode_jpeg(doc_id, n_chars, ac=True)
    _, _, planes = _jpeg_parse(p)
    y = planes[0][1]
    wb, hb = n_chars % 8 + 1, doc_id % 6 + 1
    for r in range(hb):
        for c in range(wb):
            qh, qv, qd = _jpeg_ac_coeffs(doc_id, r, c)
            nat = np.zeros((8, 8))
            nat[0, 0] = (64 + (doc_id + r) % 128 - 128) * _JPEG_QDC
            nat[0, 4] = qh * _JPEG_QAC
            nat[4, 0] = qv * _JPEG_QAC
            nat[4, 4] = qd * _JPEG_QAC
            want = np.clip(np.round(_IDCT_M @ nat @ _IDCT_M.T + 128), 0, 255)
            got = y[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8]
            assert (got == want).all()


@pytest.mark.parametrize(
    ("doc_id", "n_chars"),
    # 11: doc*7 % 101 lands near the wrap so chroma DC diffs hit the
    # +/-100 category-7 path; 0/1: degenerate dims
    [(0, 0), (1, 7), (11, 70), (123, 255), (999, 3), (4242, 63)],
)
def test_jpeg_color_roundtrip_matches_closed_form(doc_id, n_chars):
    got = decode_jpeg_color(encode_jpeg_color(doc_id, n_chars))
    w, h, ysum, ymax, ach, acv, acd = _predict_ac(doc_id, n_chars)
    wb, hb = n_chars % 8 + 1, doc_id % 6 + 1
    cb = sum((128 + 2 * ((doc_id * 7 + r) % 101 - 50)) * 64 * wb for r in range(hb))
    cr = sum((128 + 2 * ((doc_id * 13 + r) % 101 - 50)) * 64 * wb for r in range(hb))
    assert got == (w, h, ysum, ymax, cb, cr, ach, acv, acd)


def test_jpeg_color_chroma_dc_wrap_hits_category_7():
    """Find a stream whose chroma fill crosses the mod-101 wrap so the
    DC DIFF needs category 7 (the r9 KeyError regression) and check it
    still decodes to the closed form."""
    found = False
    for doc_id in range(200):
        hb = doc_id % 6 + 1
        if any((doc_id * 7 + r) % 101 == 100 for r in range(hb - 1)):
            found = True
            test_jpeg_color_roundtrip_matches_closed_form(doc_id, 12)
    assert found


def test_jpeg_color_rejects_mismatched_wrappers():
    with pytest.raises(ValueError):  # color payload through the gray API
        decode_jpeg(encode_jpeg_color(5, 9))
    with pytest.raises(ValueError):  # gray payload through the color API
        decode_jpeg_color(encode_jpeg(5, 9))


def test_jpeg_trailing_marker_after_entropy_data():
    """r8 ADVICE off-by-one: the marker walk must resume at br.pos (the
    first unread byte) — a COM segment between the entropy data and
    EOI, whose body contains 0xFF bytes, misparses if the resume skips
    the COM's 0xFF."""
    p = encode_jpeg(9, 20, ac=True)
    assert p[-2:] == b"\xff\xd9"
    com = _jpeg_segment(0xFE, b"trailing \xff\xd9 bait \xff comment")
    patched = p[:-2] + com + b"\xff\xd9"
    assert decode_jpeg(patched) == decode_jpeg(p)


# --------------------------------------------------------------------------
# r9: 4:2:0 subsampled color
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    encode_jpeg_420,
)


def _predict_420(doc_id, n_chars):
    wm, hm = n_chars % 4 + 1, doc_id % 3 + 1
    total = mx = ach = acv = acd = 0
    for R in range(2 * hm):
        fill = 64 + (doc_id + R) % 128
        for C in range(2 * wm):
            qh, qv, qd = _jpeg_ac_coeffs(doc_id, R, C)
            ah, av, ad = 2 * qh, 2 * qv, 2 * qd
            total += 64 * fill
            mx = max(
                mx, fill + max(ah + av + ad, ah - av - ad, -ah + av - ad, -ah - av + ad)
            )
            ach += 64 * ah
            acv += 64 * av
            acd += 64 * ad
    cb = sum((128 + 2 * ((doc_id * 7 + my) % 101 - 50)) * 64 * wm for my in range(hm))
    cr = sum((128 + 2 * ((doc_id * 13 + my) % 101 - 50)) * 64 * wm for my in range(hm))
    return (wm * 16, hm * 16, total, mx, cb, cr, ach, acv, acd)


@pytest.mark.parametrize(
    ("doc_id", "n_chars"),
    [(0, 0), (1, 7), (11, 70), (123, 255), (999, 3), (4242, 63)],
)
def test_jpeg_420_roundtrip_matches_closed_form(doc_id, n_chars):
    """4:2:0: four Y blocks per 16x16 MCU in MCU-local scan order (one
    DC predictor chains across them) + half-resolution chroma."""
    assert decode_jpeg_color(encode_jpeg_420(doc_id, n_chars)) == _predict_420(
        doc_id, n_chars
    )


def test_jpeg_420_chroma_planes_are_half_resolution():
    w, h, planes = _jpeg_parse(encode_jpeg_420(5, 9))
    d = dict(planes)
    assert d[1].shape == (h, w)
    assert d[2].shape == (h // 2, w // 2)
    assert d[3].shape == (h // 2, w // 2)


def test_jpeg_420_y_blocks_really_interleave():
    """The MCU-local 2x2 scan order is load-bearing: a decoder that
    assembled Y blocks in raster order would swap blocks (0,1)/(1,0)
    of every MCU — check two horizontally-adjacent Y blocks within one
    MCU decode to DIFFERENT rasters (their AC coefficients differ) and
    land at the right raster offsets."""
    import numpy as np

    doc_id, n_chars = 77, 9  # wm=2, hm=3 -> Y grid 4x6
    _, _, planes = _jpeg_parse(encode_jpeg_420(doc_id, n_chars))
    y = dict(planes)[1]
    for R in range(2 * (doc_id % 3 + 1)):
        for C in range(2 * (n_chars % 4 + 1)):
            qh, qv, qd = _jpeg_ac_coeffs(doc_id, R, C)
            nat = np.zeros((8, 8))
            nat[0, 0] = (64 + (doc_id + R) % 128 - 128) * _JPEG_QDC
            nat[0, 4] = qh * _JPEG_QAC
            nat[4, 0] = qv * _JPEG_QAC
            nat[4, 4] = qd * _JPEG_QAC
            want = np.clip(np.round(_IDCT_M @ nat @ _IDCT_M.T + 128), 0, 255)
            got = y[R * 8 : R * 8 + 8, C * 8 : C * 8 + 8]
            assert (got == want).all(), (R, C)


# --------------------------------------------------------------------------
# r9: indexed-color (palette) PNG
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    PNG_PALETTE_SIZE,
    _png_chunk,
    _png_palette_entry,
    encode_png_palette,
)


@pytest.mark.parametrize(
    ("doc_id", "n_chars"), [(0, 0), (1, 7), (47, 63), (123, 255), (999, 70)]
)
def test_png_palette_roundtrip_matches_synthesis(doc_id, n_chars):
    """Defilter over 1-byte indices (all five filters cycle) + PLTE
    expansion: stats over the expanded RGB must match the closed
    form."""
    w, h = n_chars % 64 + 1, doc_id % 48 + 1
    total = mx = 0
    for y in range(h):
        for x in range(w):
            r, g, b = _png_palette_entry((doc_id + x + y) % PNG_PALETTE_SIZE)
            total += r + g + b
            mx = max(mx, r, g, b)
    got = decode_png(encode_png_palette(doc_id, n_chars))
    assert got[0] == w and got[1] == h
    assert got[3] == mx and got[4] == total
    assert abs(got[2] - total / (3 * w * h)) < 1e-9


def test_png_palette_missing_plte_and_bad_index():
    """An indexed PNG without PLTE, or with an index past the palette,
    must fail loudly rather than mis-decode."""
    import struct
    import zlib

    p = bytearray(encode_png_palette(5, 9))
    # strip the PLTE chunk: walk chunks and drop it
    out = bytearray(p[:8])
    i = 8
    while i < len(p):
        (length,) = struct.unpack(">I", p[i : i + 4])
        typ = bytes(p[i + 4 : i + 8])
        if typ != b"PLTE":
            out.extend(p[i : i + 12 + length])
        i += 12 + length
    with pytest.raises(ValueError):
        decode_png(bytes(out))
    # palette of 2 entries but an index of 5: out of range
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
    idat = zlib.compress(bytes([0, 5]))  # filter 0, index 5
    bad = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", bytes(6))
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(bad)


# --------------------------------------------------------------------------
# r9: Adam7 interlaced PNG
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    _ADAM7,
    _png_parse,
    encode_png_interlaced,
)


@pytest.mark.parametrize(
    ("doc_id", "n_chars"),
    # 1x1 and tiny sizes leave several Adam7 passes EMPTY (the
    # no-scanlines rule); larger ones exercise all seven
    [(0, 0), (1, 1), (5, 7), (7, 3), (47, 63), (123, 255), (999, 70)],
)
def test_png_interlaced_reconstructs_exact_raster(doc_id, n_chars):
    import numpy as np

    w0, h0 = n_chars % 64 + 1, doc_id % 48 + 1
    w, h, img = _png_parse(encode_png_interlaced(doc_id, n_chars))
    assert (w, h) == (w0, h0)
    xs = np.arange(w)[None, :, None]
    ys = np.arange(h)[:, None, None]
    cs = np.arange(3)[None, None, :]
    want = ((doc_id + 3 * xs + 5 * ys + 7 * cs) % 256).astype(np.uint8)
    assert (img == want).all()


def test_png_interlaced_pass_boundaries_are_load_bearing():
    """Truncating the inflated stream by one pass (or appending a
    spurious one) must fail loudly — the Adam7 walk accounts for every
    byte."""
    import struct
    import zlib

    p = encode_png_interlaced(9, 20)
    # re-inflate, chop the last pass's bytes, re-deflate, re-chunk
    i = 8
    idat = bytearray()
    chunks = []
    while i < len(p):
        (length,) = struct.unpack(">I", p[i : i + 4])
        typ = bytes(p[i + 4 : i + 8])
        data = p[i + 8 : i + 8 + length]
        chunks.append((typ, data))
        if typ == b"IDAT":
            idat.extend(data)
        i += 12 + length
    raw = zlib.decompress(bytes(idat))
    for mutated in (raw[:-5], raw + raw[-5:]):
        png = bytearray(_PNG_SIG)
        for typ, data in chunks:
            if typ == b"IDAT":
                continue
            if typ == b"IEND":
                png.extend(_png_chunk(b"IDAT", zlib.compress(bytes(mutated))))
            png.extend(_png_chunk(typ, data))
        with pytest.raises(ValueError):
            _png_parse(bytes(png))


def test_png_interlaced_passes_filter_independently():
    """First row of EVERY pass must defilter against a zero prior: the
    encoder cycles filters per pass row, so pass 7 (the last, largest
    pass) starts with filter 0 again — decode a tall image where pass
    boundaries would corrupt rows if prior state leaked."""
    w, h, img = _png_parse(encode_png_interlaced(47, 63))  # 64 x 48
    assert img.shape == (48, 64, 3)
    # spot-check a pass-7 row (odd y) far from pass 1 rows
    import numpy as np

    y = 47
    want = ((47 + 3 * np.arange(64)[:, None] + 5 * y + 7 * np.arange(3)[None, :]) % 256)
    assert (img[y] == want).all()


# --------------------------------------------------------------------------
# r9: G.711 mu-law WAV
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    _ulaw_expand,
    decode_wav_ulaw,
    encode_wav_ulaw,
)


def test_ulaw_expansion_matches_canonical_anchors():
    """Sun ulaw2linear's published 16-bit-domain anchors: both zero
    codes decode to 0, the extreme codes to +/-32124, and expansion is
    odd-symmetric (complement bit 7 flips the sign exactly)."""
    assert _ulaw_expand(0xFF) == 0 and _ulaw_expand(0x7F) == 0
    assert _ulaw_expand(0x00) == -32124 and _ulaw_expand(0x80) == 32124
    for b in range(128):
        assert _ulaw_expand(b) == -_ulaw_expand(b | 0x80)


@pytest.mark.parametrize(
    ("doc_id", "n_chars"), [(0, 0), (1, 3), (5, 70), (123, 255), (999, 799)]
)
def test_ulaw_wav_roundtrip(doc_id, n_chars):
    n = n_chars % 800 + 50
    exp = [_ulaw_expand((doc_id + i) % 256) for i in range(n)]
    got = decode_wav_ulaw(encode_wav_ulaw(doc_id, n_chars))
    assert got == (n, 8000, sum(exp), max(exp), min(exp))


def test_ulaw_rejects_pcm_and_walks_extra_chunks():
    """A PCM-tagged stream is a loud NotImplementedError, and the RIFF
    walk must skip unknown (odd-length, word-padded) chunks to find
    fmt/data."""
    import struct

    from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (
        encode_wav,
    )

    with pytest.raises((NotImplementedError, ValueError)):
        decode_wav_ulaw(encode_wav(5, 70))  # PCM 16-bit stdlib stream
    # splice an odd-length LIST chunk before fmt: still decodes
    p = encode_wav_ulaw(7, 20)
    extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # padded to 4
    patched = p[:12] + extra + p[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert decode_wav_ulaw(patched) == decode_wav_ulaw(p)


# --------------------------------------------------------------------------
# r9: 16-bit grayscale PNG
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    encode_png_16,
)


@pytest.mark.parametrize(
    ("doc_id", "n_chars"),
    [(0, 0), (1, 1), (5, 63), (47, 70), (255, 255), (999, 13)],
)
def test_png16_roundtrip_matches_synthesis(doc_id, n_chars):
    """Byte-wise filters at 2-byte offsets + big-endian recombination:
    stats over the 16-bit samples must match the closed form."""
    w, h = n_chars % 64 + 1, doc_id % 48 + 1
    vals = [
        (doc_id * 251 + 9 * x + 17 * y) % 65536
        for y in range(h)
        for x in range(w)
    ]
    got = decode_png(encode_png_16(doc_id, n_chars))
    assert got[0] == w and got[1] == h
    assert got[3] == max(vals) and got[4] == sum(vals)
    assert abs(got[2] - sum(vals) / len(vals)) < 1e-9


def test_png16_endianness_is_load_bearing():
    """A sample > 255 must reconstruct big-endian: flip the two bytes
    of a known flat payload and the sum changes."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    idat_be = zlib.compress(bytes([0, 0x12, 0x34]))  # sample 0x1234
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat_be)
        + _png_chunk(b"IEND", b"")
    )
    assert decode_png(png)[4] == 0x1234


# --------------------------------------------------------------------------
# progressive JPEG (SOF2) — r10
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    _jpeg_ac_coeffs,
    _jpeg_parse_progressive,
    encode_jpeg_progressive,
)


@pytest.mark.parametrize(
    ("doc_id", "n_chars"),
    [(0, 0), (1, 7), (17, 70), (101, 61), (123, 255), (999, 3), (4242, 63)],
)
def test_jpeg_progressive_matches_baseline_raster(doc_id, n_chars):
    """The five-scan SOF2 stream must reconstruct the EXACT raster of
    the baseline AC stream carrying the same quantized coefficients —
    successive approximation refines to Al=0, so the coefficient
    buffer converges bit for bit."""
    import numpy as np

    bw, bh, bplanes = _jpeg_parse(encode_jpeg(doc_id, n_chars, ac=True))
    pw_, ph, pplanes = _jpeg_parse_progressive(
        encode_jpeg_progressive(doc_id, n_chars)
    )
    assert (bw, bh) == (pw_, ph)
    assert np.array_equal(bplanes[0][1], pplanes[0][1])


def test_jpeg_progressive_eobrun_spans_blocks():
    """Find a fixture point whose AC values are all |v| <= 3 in some
    block (empty first-pass band at Al=2) so a real EOBRUN > 1 is
    coded, and check the decode still matches baseline."""
    import numpy as np

    found = 0
    for doc_id in range(500):
        hb = doc_id % 6 + 1
        wb = 8  # n_chars % 8 == 7
        empties = [
            (r, c)
            for r in range(hb)
            for c in range(wb)
            if all(abs(q) <= 3 for q in _jpeg_ac_coeffs(doc_id, r, c))
        ]
        if not empties:
            continue
        found += 1
        b = _jpeg_parse(encode_jpeg(doc_id, 7, ac=True))
        p = _jpeg_parse_progressive(encode_jpeg_progressive(doc_id, 7))
        assert np.array_equal(b[2][0][1], p[2][0][1]), doc_id
        if found >= 5:
            break
    assert found, "synthesis no longer produces empty first-pass bands"


def test_jpeg_progressive_parser_rejection_is_mutual():
    with pytest.raises(NotImplementedError):  # SOF2 through baseline
        _jpeg_parse(encode_jpeg_progressive(5, 9))
    with pytest.raises(ValueError):  # SOF0 through progressive
        _jpeg_parse_progressive(encode_jpeg(5, 9))


@pytest.mark.parametrize("restart_interval", [1, 2, 3, 5, 100])
def test_jpeg_progressive_restart_roundtrip(restart_interval):
    """DRI/RSTn streams must reconstruct the exact no-restart raster:
    every scan byte-realigns at the marker, DC scans reset the
    predictor, AC scans terminate any pending EOB run."""
    import numpy as np

    for doc_id, n_chars in [(1, 7), (42, 500), (999, 63), (123456, 4096)]:
        base = _jpeg_parse_progressive(encode_jpeg_progressive(doc_id, n_chars))
        rst = _jpeg_parse_progressive(
            encode_jpeg_progressive(
                doc_id, n_chars, restart_interval=restart_interval
            )
        )
        assert (base[0], base[1]) == (rst[0], rst[1])
        assert np.array_equal(base[2][0][1], rst[2][0][1]), (
            doc_id,
            n_chars,
            restart_interval,
        )


@pytest.mark.parametrize(
    ("doc_id", "n_chars"),
    [(0, 0), (1, 7), (17, 70), (101, 61), (999, 3), (4242, 63)],
)
def test_jpeg_progressive_color_matches_baseline(doc_id, n_chars):
    """The seven-scan color script (interleaved ns=3 DC scans,
    Y ladder, chroma EOB-run band scans under their own table) must
    reconstruct all three planes of the baseline 4:4:4 stream."""
    import numpy as np

    from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (
        encode_jpeg_color,
        encode_jpeg_progressive_color,
    )

    bw, bh, bplanes = _jpeg_parse(encode_jpeg_color(doc_id, n_chars))
    pw_, ph, pplanes = _jpeg_parse_progressive(
        encode_jpeg_progressive_color(doc_id, n_chars)
    )
    assert (bw, bh) == (pw_, ph)
    assert [c for c, _ in bplanes] == [c for c, _ in pplanes] == [1, 2, 3]
    for (_, b), (_, p) in zip(bplanes, pplanes):
        assert np.array_equal(b, p)


def test_jpeg_progressive_color_interleaved_dc_is_load_bearing():
    """Swapping the chroma component order in the interleaved DC scan
    must change the decoded planes (the ns=3 MCU ordering is real,
    not a reshuffle-invariant)."""
    import numpy as np

    from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (
        encode_jpeg_progressive_color,
    )

    p = encode_jpeg_progressive_color(17, 70)
    _, _, planes = _jpeg_parse_progressive(p)
    by_cid = dict(planes)
    # Cb and Cr are different flat planes per the synthesis
    assert not np.array_equal(by_cid[2], by_cid[3])


@pytest.mark.parametrize(
    ("doc_id", "n_chars"),
    [(0, 0), (1, 7), (17, 70), (101, 61), (999, 3), (4242, 63)],
)
def test_jpeg_progressive_420_matches_baseline(doc_id, n_chars):
    """The subsampled-progressive stream must reconstruct all three
    planes (Y full-res, chroma half-res) of the baseline 4:2:0
    stream.  The Y AC scans walk blocks in component raster order
    while the DC scans walked them in MCU order — a decoder that
    confuses the two orders misplaces every Y block of every
    multi-MCU-column image."""
    import numpy as np

    from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (
        encode_jpeg_420,
        encode_jpeg_progressive_420,
    )

    bw, bh, bplanes = _jpeg_parse(encode_jpeg_420(doc_id, n_chars))
    pw_, ph, pplanes = _jpeg_parse_progressive(
        encode_jpeg_progressive_420(doc_id, n_chars)
    )
    assert (bw, bh) == (pw_, ph)
    for (cb_, b), (cp, p) in zip(bplanes, pplanes):
        assert cb_ == cp
        assert b.shape == p.shape  # chroma planes at half resolution
        assert np.array_equal(b, p)


def test_jpeg_progressive_420_chroma_half_resolution():
    from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (
        encode_jpeg_progressive_420,
    )

    w, h, planes = _jpeg_parse_progressive(encode_jpeg_progressive_420(17, 70))
    by_cid = dict(planes)
    assert by_cid[1].shape == (h, w)
    assert by_cid[2].shape == (h // 2, w // 2)
    assert by_cid[3].shape == (h // 2, w // 2)


def test_jpeg_progressive_restart_requires_dri():
    """Stripping the DRI segment from a restart-carrying stream must
    fail loudly (RSTn inside entropy data with no interval declared),
    not silently decode garbage."""
    import struct

    p = encode_jpeg_progressive(7, 500, restart_interval=2)
    i = p.index(b"\xff\xdd")
    (seglen,) = struct.unpack(">H", p[i + 2 : i + 4])
    stripped = p[:i] + p[i + 2 + seglen :]
    with pytest.raises(ValueError):
        _jpeg_parse_progressive(stripped)


def test_jpeg_progressive_real_decode_dispatch():
    """real_decode must route SOF2 to the builtin progressive parser
    (no PIL in this container)."""
    assert real_decode(encode_jpeg_progressive(5, 70)) == (
        (70 % 8 + 1) * 8,
        (5 % 6 + 1) * 8,
    )


# --------------------------------------------------------------------------
# audio ladder rung 2: stereo 16-bit PCM + IMA-ADPCM — r10
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    _IMA_SAMPLES_PER_BLOCK,
    _IMA_STEPS,
    decode_wav_ima_adpcm,
    decode_wav_stereo,
    encode_wav_ima_adpcm,
    encode_wav_stereo,
)


@pytest.mark.parametrize("doc_id", [0, 1, 7, 55, 123, 4242])
def test_wav_stereo_roundtrip_per_channel(doc_id):
    n_chars = doc_id * 17 % 400
    nch, nf, pl, pr, sl, sr, rate = decode_wav_stereo(
        encode_wav_stereo(doc_id, n_chars)
    )
    amp = doc_id % 90 + 10
    want_nf = n_chars % 300 + 40
    right = [(doc_id + t) % 200 - 100 for t in range(want_nf)]
    assert (nch, nf, rate) == (2, want_nf, 8000)
    assert (pl, sl) == (amp, amp * (want_nf % 2))
    assert (pr, sr) == (max(abs(v) for v in right), sum(right))


def test_wav_stereo_rejects_mono():
    from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import encode_wav

    with pytest.raises(NotImplementedError):
        decode_wav_stereo(encode_wav(5, 9))


def _ima_reference(doc_id):
    """Independent pure-Python replay of the IMA machine (written
    against the published step/index tables, not the decoder code)."""
    from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (
        _IMA_INDEX_ADJ,
        _ima_fixture_nibble,
        _ima_fixture_params,
    )

    out = []
    for b in range(2):
        pred, idx = _ima_fixture_params(doc_id, b)
        out.append(pred)
        for t in range(_IMA_SAMPLES_PER_BLOCK - 1):
            nib = _ima_fixture_nibble(doc_id, b, t)
            step = _IMA_STEPS[idx]
            diff = (step >> 3) + (step >> 2 if nib & 1 else 0) \
                 + (step >> 1 if nib & 2 else 0) + (step if nib & 4 else 0)
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + _IMA_INDEX_ADJ[nib & 7]))
            out.append(pred)
    return out


@pytest.mark.parametrize("doc_id", [0, 3, 17, 88, 123, 4242])
def test_ima_adpcm_roundtrip_matches_reference(doc_id):
    ref = _ima_reference(doc_id)
    n, rate, s, mn, mx = decode_wav_ima_adpcm(encode_wav_ima_adpcm(doc_id, 0))
    assert (n, rate) == (len(ref), 8000)
    assert (s, mn, mx) == (sum(ref), min(ref), max(ref))


def test_ima_adpcm_clamps_are_exercised():
    """The fixture domain must hit BOTH predictor clamps — otherwise
    the greatest/least in the oracle (and the decoder's min/max) are
    dead code the hash can't see."""
    lo = hi = False
    for doc_id in range(80):
        ref = _ima_reference(doc_id)
        lo = lo or min(ref) == -32768
        hi = hi or max(ref) == 32767
        if lo and hi:
            break
    assert lo and hi


def test_ima_adpcm_loud_failures():
    p = encode_wav_ima_adpcm(9, 0)
    # corrupt chunk length -> ValueError, not struct.error/truncation
    bad = bytearray(p)
    i = p.index(b"data")
    bad[i + 4 : i + 8] = (2 ** 31).to_bytes(4, "little")
    with pytest.raises(ValueError):
        decode_wav_ima_adpcm(bytes(bad))
    # out-of-range step index in a block header -> ValueError
    bad = bytearray(p)
    bad[i + 8 + 2] = 99  # first block's index byte
    with pytest.raises(ValueError):
        decode_wav_ima_adpcm(bytes(bad))
    # mu-law payload through the IMA API -> loud NotImplementedError
    from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import encode_wav_ulaw

    with pytest.raises(NotImplementedError):
        decode_wav_ima_adpcm(encode_wav_ulaw(5, 9))


# --------------------------------------------------------------------------
# r10: G.711 A-law WAV
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    _alaw_expand,
    decode_wav_alaw,
    encode_wav_alaw,
)


def test_alaw_expansion_matches_canonical_anchors():
    """Sun alaw2linear's published anchors: the quietest codes decode
    to +/-8 (A-law has NO zero code — mid-rise quantizer), the extreme
    codes to +/-32256, and sign bit SET means POSITIVE (the inverse of
    mu-law's polarity)."""
    assert _alaw_expand(0x55) == -8 and _alaw_expand(0xD5) == 8
    assert _alaw_expand(0x2A) == -32256 and _alaw_expand(0xAA) == 32256
    for b in range(128):
        assert _alaw_expand(b) == -_alaw_expand(b | 0x80)


def test_alaw_differs_from_ulaw_everywhere_it_should():
    """The two G.711 halves must not be interchangeable: their decoded
    peaks differ (32256 vs 32124) and the byte->sample maps disagree on
    most codes — a decoder that routed A-law bytes through the mu-law
    expansion would agree nowhere near this little."""
    agree = sum(1 for b in range(256) if _alaw_expand(b) == _ulaw_expand(b))
    assert agree < 16
    assert max(_alaw_expand(b) for b in range(256)) == 32256
    assert max(_ulaw_expand(b) for b in range(256)) == 32124


@pytest.mark.parametrize(
    ("doc_id", "n_chars"), [(0, 0), (1, 3), (5, 70), (123, 255), (999, 799)]
)
def test_alaw_wav_roundtrip(doc_id, n_chars):
    n = n_chars % 800 + 50
    exp = [_alaw_expand((doc_id * 11 + 5 * i) % 256) for i in range(n)]
    got = decode_wav_alaw(encode_wav_alaw(doc_id, n_chars))
    assert got == (n, 8000, sum(exp), max(exp), min(exp))


def test_alaw_rejects_ulaw_and_truncated_chunks():
    """A mu-law-tagged stream is a loud NotImplementedError (format
    tags 7 vs 6 must not cross-decode), and a corrupt chunk length
    fails loud per the codec-tier contract."""
    import struct

    with pytest.raises(NotImplementedError):
        decode_wav_alaw(encode_wav_ulaw(5, 70))
    p = encode_wav_alaw(7, 20)
    bad = p[:16] + struct.pack("<I", 10_000) + p[20:]  # fmt claims 10kB
    with pytest.raises(ValueError):
        decode_wav_alaw(bad)


# --------------------------------------------------------------------------
# r10: GIF (variable-width LZW)
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    _lzw_compress,
    _lzw_decompress,
    decode_gif,
    encode_gif,
)


def test_lzw_kwkwk_case():
    """A run of identical symbols forces the encoder to emit a code in
    the same step it defines it — the decoder's code==len(table)
    branch (prev + prev[0]) is the only correct read."""
    assert _lzw_decompress(_lzw_compress([1, 1, 1, 1], 4), 4) == [1, 1, 1, 1]
    seq = [3] * 100
    assert _lzw_decompress(_lzw_compress(seq, 4), 4) == seq


@given(st.lists(st.integers(0, 15), min_size=1, max_size=4000))
@settings(max_examples=40, deadline=None)
def test_lzw_roundtrip_through_width_growth(seq):
    """Random 4-bit streams long enough to push the code width from 5
    bits through 12 roundtrip exactly — the post-insert width-growth
    rule on both sides must agree at every power-of-two boundary."""
    assert _lzw_decompress(_lzw_compress(seq, 4), 4) == seq


def test_lzw_truncated_stream_fails_loud():
    z = _lzw_compress([1, 2, 3, 4, 5, 6, 7], 4)
    with pytest.raises(ValueError):
        _lzw_decompress(z[: len(z) // 2], 4)


@pytest.mark.parametrize(
    ("doc_id", "n_chars"), [(0, 0), (1, 3), (5, 70), (123, 255), (999, 799)]
)
def test_gif_roundtrip_matches_synthesis(doc_id, n_chars):
    w = n_chars % 40 + 5
    h = doc_id % 30 + 5
    idx = [(doc_id + 3 * x + 5 * y) % 16 for y in range(h) for x in range(w)]
    got = decode_gif(encode_gif(doc_id, n_chars))
    assert got == (
        w, h, w * h,
        sum((1 + p % w + 7 * (p // w)) * v for p, v in enumerate(idx)),
        sum((17 * v + doc_id) % 256 for v in idx),
        sum((29 * v) % 256 for v in idx),
        sum((41 * v + 7) % 256 for v in idx),
    )


def test_gif_decoder_walks_extensions_and_rejects_junk():
    """The GCE the encoder emits must be sub-block-skipped (that path
    is on every real GIF89a), an extra spliced comment extension must
    not change the decode, and non-GIF bytes fail loud."""
    p = encode_gif(9, 33)
    base = decode_gif(p)
    # splice a comment extension (0x21 0xFE) right after the GCT ends
    gct_end = 13 + 48
    comment = bytes([0x21, 0xFE, 5]) + b"hello" + bytes([0])
    assert decode_gif(p[:gct_end] + comment + p[gct_end:]) == base
    with pytest.raises(ValueError):
        decode_gif(b"NOTGIF" + p[6:])


# --------------------------------------------------------------------------
# r10: MJPEG-in-AVI video container
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    decode_avi_mjpeg,
    encode_avi_mjpeg,
)


@pytest.mark.parametrize(
    ("doc_id", "n_chars"), [(0, 0), (1, 3), (5, 70), (123, 255), (999, 799)]
)
def test_avi_mjpeg_roundtrip_matches_synthesis(doc_id, n_chars):
    nf = n_chars % 6 + 2
    w = (n_chars % 8 + 1) * 8
    hb = doc_id % 6 + 1
    vals = [
        (f, (doc_id + 186 * (f + 1) + r) % 256)
        for f in range(nf)
        for r in range(hb)
    ]
    got = decode_avi_mjpeg(encode_avi_mjpeg(doc_id, n_chars))
    assert got == (
        nf, w, hb * 8, 25,
        sum(v * w * 8 for _, v in vals),
        max(v for _, v in vals),
        sum((f + 1) * v * w * 8 for f, v in vals),
    )


def test_avi_frame_order_is_load_bearing():
    """Swapping two movi frames keeps every per-frame stat but must
    change frame_checksum — the container walk's ORDER is hashed."""
    import struct

    p = bytearray(encode_avi_mjpeg(7, 10))
    base = decode_avi_mjpeg(bytes(p))
    # find the two 00dc chunks and swap their bodies
    i = p.find(b"00dc")
    (l1,) = struct.unpack("<I", p[i + 4 : i + 8])
    j = p.find(b"00dc", i + 8 + l1)
    (l2,) = struct.unpack("<I", p[j + 4 : j + 8])
    assert l1 == l2  # same dims, same flat-fill structure
    f1, f2 = bytes(p[i + 8 : i + 8 + l1]), bytes(p[j + 8 : j + 8 + l2])
    p[i + 8 : i + 8 + l1], p[j + 8 : j + 8 + l2] = f2, f1
    swapped = decode_avi_mjpeg(bytes(p))
    assert swapped[:6] == base[:6]  # count/dims/fps/sums unchanged
    assert swapped[6] != base[6]  # checksum moved


def test_avi_loud_failures():
    """Frame-count mismatch vs avih, dim mismatch vs header, and a
    corrupt chunk length all fail loud."""
    import struct

    p = encode_avi_mjpeg(3, 20)
    # patch avih dwTotalFrames (offset: RIFF(12) + LIST hdr(12) + avih hdr(8) + 16)
    i = p.find(b"avih") + 8 + 16
    bad = p[:i] + struct.pack("<I", 99) + p[i + 4 :]
    with pytest.raises(ValueError):
        decode_avi_mjpeg(bad)
    k = p.find(b"00dc")
    bad2 = p[:k + 4] + struct.pack("<I", 1 << 30) + p[k + 8 :]
    with pytest.raises(ValueError):
        decode_avi_mjpeg(bad2)
    with pytest.raises(ValueError):
        decode_avi_mjpeg(b"RIFF\x10\x00\x00\x00WAVE")


# --------------------------------------------------------------------------
# r10: BMP
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    decode_bmp,
    encode_bmp,
)


@pytest.mark.parametrize(
    ("doc_id", "n_chars"), [(0, 0), (1, 3), (5, 70), (123, 255), (999, 799)]
)
def test_bmp_roundtrip_matches_synthesis(doc_id, n_chars):
    w = n_chars % 37 + 3
    h = doc_id % 25 + 2
    pts = [(x, y) for y in range(h) for x in range(w)]
    got = decode_bmp(encode_bmp(doc_id, n_chars))
    assert got == (
        w, h,
        sum((doc_id + 2 * x + 3 * y) % 256 for x, y in pts),
        sum((5 * x + y) % 256 for x, y in pts),
        sum((doc_id + x + 7 * y) % 256 for x, y in pts),
        sum((1 + x + 7 * y) * ((doc_id + 2 * x + 3 * y) % 256) for x, y in pts),
    )


def test_bmp_flip_and_padding_are_load_bearing():
    """A doctored file with the raster stored TOP-DOWN (but positive
    height) must decode to a DIFFERENT r_checksum — proving the
    decoder really un-flips — and rejected variants fail loud."""
    import struct

    doc_id, n_chars = 9, 4  # w=7 (odd: stride padding), h=11
    p = encode_bmp(doc_id, n_chars)
    base = decode_bmp(p)
    off = 54
    w, h = base[0], base[1]
    stride = (3 * w + 3) // 4 * 4
    rows = [p[off + i * stride : off + (i + 1) * stride] for i in range(h)]
    flipped = p[:off] + b"".join(reversed(rows))
    got = decode_bmp(flipped)
    assert got[:5] == base[:5]  # channel sums orientation-blind
    assert got[5] != base[5]  # y-weighted checksum catches the flip
    with pytest.raises(NotImplementedError):
        bad = p[:28] + struct.pack("<H", 32) + p[30:]  # 32bpp
        decode_bmp(bad)
    with pytest.raises(ValueError):
        decode_bmp(p[: off + 10])  # truncated pixel array


# --------------------------------------------------------------------------
# zlib (DEFLATE) decode of inflate_roundtrip
# --------------------------------------------------------------------------

import gzip as _gzip  # noqa: E402
import hashlib as _hashlib  # noqa: E402
import zlib as _zlib  # noqa: E402

import pandas as _pd  # noqa: E402
import pyarrow as _pa  # noqa: E402

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    decode_zlibs,
    encode_zlib_doc,
)


def _digests(decode, payloads: list[bytes]) -> list[tuple[int, str]]:
    """(n_bytes, digest) rows of a codec query's mapInPandas decode."""
    pdf = _pd.DataFrame({"doc_id": range(len(payloads)), "payload": payloads})
    out = _pd.concat(list(decode(iter([pdf]))))
    return list(zip(out["n_bytes"], out["digest"]))


def _want(data: bytes) -> list[tuple[int, str]]:
    return [(len(data), _hashlib.sha256(data).hexdigest())]


@pytest.mark.parametrize("mode", [0, 1, 2])
def test_inflate_inverts_every_zlib_strategy(mode):
    """The query's encoder emits stored (doc_id % 3 == 0),
    fixed-Huffman (1) and dynamic-Huffman (2) streams; each decodes
    byte-exactly."""
    text = ("the quick brown fox jumps over the lazy dog " * 300)[:9001]
    payload = encode_zlib_doc(mode, text)
    assert _digests(decode_zlibs, [payload]) == _want(text.encode())


@given(st.binary(min_size=0, max_size=40000))
@settings(max_examples=30, deadline=None)
def test_inflate_roundtrips_arbitrary_bytes(data):
    """Random binary through default zlib: the dynamic-Huffman and
    LZ77 paths (incl. overlapping copies on repetitive inputs) must
    byte-exactly invert."""
    assert _digests(decode_zlibs, [_zlib.compress(data, 6)]) == _want(data)


def test_inflate_loud_failures():
    z = _zlib.compress(b"hello world, hello world, hello")
    for bad, why in [
        (z[:-1] + bytes([z[-1] ^ 1]), "incorrect data check"),  # Adler-32
        (z[: len(z) // 2], "truncated"),  # cut mid-stream
        (b"\x00" + z[1:], "incorrect header check"),  # CM nibble
    ]:
        with pytest.raises(_zlib.error, match=why):
            _digests(decode_zlibs, [bad])


# --------------------------------------------------------------------------
# WARC.gz multi-member extraction
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    _gzip_members,
    _parse_warc_record,
    decode_warc_gz,
    encode_warc_gz,
)


def test_gzip_member_walk_handles_flags_and_concatenation():
    """Concatenated members split exactly; FNAME headers are consumed;
    a flipped trailer bit is a loud CRC error, and bytes after the last
    member that start no member fail loud too."""
    import io

    a = _gzip.compress(b"first", 6, mtime=0)
    buf = io.BytesIO()
    with _gzip.GzipFile(filename="x.txt", fileobj=buf, mode="wb") as g:
        g.write(b"second named")
    combined = a + buf.getvalue() + _gzip.compress(b"third" * 100, 0, mtime=0)
    assert _gzip_members(combined) == [
        b"first", b"second named", b"third" * 100,
    ]
    bad = bytearray(a)
    bad[-6] ^= 0x40  # inside the CRC-32 trailer
    with pytest.raises(_zlib.error, match="incorrect data check"):
        _gzip_members(bytes(bad))
    with pytest.raises(_zlib.error, match="incorrect header check"):
        _gzip_members(a + b"trailing junk")


@pytest.mark.parametrize("cut", [1, 8, 9, 20, 37])
def test_gzip_truncated_final_member_is_loud(cut):
    """A final member cut off in its trailer, its deflate body or its
    header: zlib returns the prefix it decoded without an error, so
    only the end-of-stream check catches it."""
    a = _gzip.compress(b"first", 6, mtime=0)
    b = _gzip.compress(b"second member " * 50, 6, mtime=0)
    assert len(b) == 41  # 10-byte header, 23-byte body, 8-byte trailer
    with pytest.raises(ValueError, match="truncated gzip member"):
        _gzip_members(a + b[:-cut])


@pytest.mark.parametrize(
    ("doc_id", "text"), [(0, "hello"), (7, "a b " * 500), (123, "")]
)
def test_warc_roundtrip(doc_id, text):
    assert decode_warc_gz(doc_id, encode_warc_gz(doc_id, text)) == (
        2,
        f"http://corpus.example/doc/{doc_id}",
        len(text.encode()),
        _hashlib.sha256(text.encode()).hexdigest(),
    )


def test_warc_record_structure_is_enforced():
    """Wrong record id, truncated payload, and a missing version line
    all fail loud — the ingest tier's corrupt-input contract."""
    p = encode_warc_gz(5, "some text")
    with pytest.raises(ValueError, match="does not match"):
        decode_warc_gz(6, p)
    with pytest.raises(ValueError):
        _parse_warc_record(b"HTTP/1.1 200 OK\r\n\r\n")
    rec = _gzip_members(p)[1]
    with pytest.raises(ValueError):
        _parse_warc_record(rec[: len(rec) - 6])  # payload cut short


# --------------------------------------------------------------------------
# snappy
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    snappy_decompress,
)


@given(st.binary(min_size=0, max_size=60000))
@settings(max_examples=30, deadline=None)
def test_snappy_inverts_real_pyarrow_streams(data):
    z = _pa.compress(data, codec="snappy", asbytes=True)
    assert snappy_decompress(z) == data


def test_snappy_overlapping_copy_and_loud_failures():
    # pure RLE input: the codec emits overlapping copies (offset <
    # length) — the idiom a memcpy-based decoder corrupts
    data = b"z" * 5000
    assert snappy_decompress(
        _pa.compress(data, codec="snappy", asbytes=True)
    ) == data
    z = _pa.compress(b"hello hello hello hello", codec="snappy", asbytes=True)
    with pytest.raises(OSError, match="Corrupt snappy"):
        snappy_decompress(z[:-2])  # truncated literal/copy
    # declared length vs decoded length mismatch
    z2 = bytearray(_pa.compress(b"abcd", codec="snappy", asbytes=True))
    z2[0] += 1  # bump the varint preamble
    with pytest.raises(OSError, match="Corrupt snappy"):
        snappy_decompress(bytes(z2))
    with pytest.raises(ValueError, match="preamble truncated"):
        snappy_decompress(b"\x80\x80")


# --------------------------------------------------------------------------
# LZ4 frame
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    frame_decompress,
)


@given(st.binary(min_size=0, max_size=60000))
@settings(max_examples=30, deadline=None)
def test_lz4_inverts_real_pyarrow_frames(data):
    z = _pa.compress(data, codec="lz4", asbytes=True)
    assert frame_decompress(z, "lz4") == data


def test_lz4_frame_failures_are_loud():
    z = _pa.compress(b"hello " * 5, codec="lz4", asbytes=True)
    with pytest.raises(OSError, match="frameType_unknown"):
        frame_decompress(b"\x00" + z[1:], "lz4")  # bad magic
    bad = bytearray(z)
    bad[4] ^= 0x08  # flip a FLG bit: header checksum must catch it
    with pytest.raises(OSError, match="headerChecksum_invalid"):
        frame_decompress(bytes(bad), "lz4")
    with pytest.raises(OSError, match="Truncated"):
        frame_decompress(z[: len(z) - 5], "lz4")
    with pytest.raises(ValueError, match="empty lz4 payload"):
        frame_decompress(b"", "lz4")


def test_avi_sampled_decode_touches_only_sampled_frames():
    """The sampled walk must index every frame but entropy-decode only
    f = 0, 2, ...: corrupting an UNSAMPLED frame's entropy data must
    not affect the result (proof decode never ran on it), while
    corrupting a sampled frame fails loud."""
    import struct

    from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (
        decode_avi_sampled,
    )

    doc_id, n_chars = 7, 3  # nf = 3 % 6 + 2 = 5 frames: samples 0, 2, 4
    p = bytearray(encode_avi_mjpeg(doc_id, n_chars))
    base = decode_avi_sampled(doc_id, bytes(p), 2)
    assert base[0] == 5 and base[1] == 3
    # locate the five 00dc chunks
    offs = []
    i = 0
    while True:
        i = p.find(b"00dc", i)
        if i < 0 or len(offs) == 5:
            break
        offs.append(i)
        (ln,) = struct.unpack("<I", p[i + 4 : i + 8])
        i += 8 + ln
    assert len(offs) == 5
    # frame 1 is unsampled: flip a byte in the middle of its scan data
    (l1,) = struct.unpack("<I", p[offs[1] + 4 : offs[1] + 8])
    p[offs[1] + 8 + l1 // 2] ^= 0xFF
    assert decode_avi_sampled(doc_id, bytes(p), 2) == base
    # frame 2 IS sampled: the same corruption must change or break it
    (l2,) = struct.unpack("<I", p[offs[2] + 4 : offs[2] + 8])
    p[offs[2] + 8 + l2 // 2] ^= 0xFF
    try:
        got = decode_avi_sampled(doc_id, bytes(p), 2)
        assert got != base
    except (ValueError, KeyError, IndexError):
        pass  # a broken Huffman stream failing loud is equally correct


# --------------------------------------------------------------------------
# r10: TIFF (dual-endian IFD + the TIFF LZW dialect)
# --------------------------------------------------------------------------

from inverted_index_using_the_map_reduce_paradigm_spark.operators.multimodal import (  # noqa: E402
    _lzw_tiff_compress,
    _lzw_tiff_decompress,
    decode_tiff,
    encode_tiff,
)


@given(st.binary(min_size=0, max_size=12000))
@settings(max_examples=30, deadline=None)
def test_tiff_lzw_roundtrip_through_early_change_boundaries(data):
    """Streams long enough to cross the 511/1023/2047 early-change
    boundaries (and, at max size, the 4094 clear reset) must roundtrip
    — the decoder's lag-compensated growth at 2^w - 2 is load-bearing."""
    assert _lzw_tiff_decompress(_lzw_tiff_compress(data)) == data


def test_tiff_lzw_differs_from_gif_lzw():
    """The two dialects must NOT cross-decode: TIFF packs MSB-first
    over a byte alphabet, GIF LSB-first over 4-bit symbols — a decoder
    that conflates them corrupts everything past the first code."""
    data = bytes([1, 2, 3, 1, 2, 3, 1, 2, 3])
    t = _lzw_tiff_compress(data)
    g = _lzw_compress(list(data), 4)
    assert t != g
    with pytest.raises(ValueError):
        # GIF bytes through the TIFF decoder: desyncs into a bad code
        # (or truncation) rather than silently "working"
        out = _lzw_tiff_decompress(g)
        assert out != data  # pragma: no cover - either path is a pass
        raise ValueError("decoded but wrong")


@pytest.mark.parametrize(
    ("doc_id", "n_chars"), [(0, 0), (1, 3), (5, 70), (123, 255), (998, 799)]
)
def test_tiff_roundtrip_both_endians(doc_id, n_chars):
    w = n_chars % 40 + 4
    h = doc_id % 28 + 3
    pts = [(x, y) for y in range(h) for x in range(w)]
    got = decode_tiff(encode_tiff(doc_id, n_chars))
    assert got == (
        w, h, (h + 3) // 4, doc_id % 2,
        sum((doc_id + 3 * x + 5 * y) % 256 for x, y in pts),
        sum((1 + x + 7 * y) * ((doc_id + 3 * x + 5 * y) % 256) for x, y in pts),
    )


def test_tiff_loud_failures():
    p = encode_tiff(5, 70)
    with pytest.raises(ValueError, match="byte order"):
        decode_tiff(b"XX" + p[2:])
    bad = bytearray(p)
    bad[2] ^= 1  # magic 42 -> 43
    with pytest.raises(ValueError, match="magic"):
        decode_tiff(bytes(bad))
