"""Baseline JPEG codec: spec-level behavior of sap_spark.functions.jpeg.

The encoder exists mainly to give the decoder same-repo fixtures, so a
symmetric bug in both directions is the risk round-trip tests can't see.
Two independent anchors close that hole: solid-color images decode
EXACTLY (the DC-only path is analytically checkable), and the repo's
decode of real libjpeg output was validated visually/structurally during
development (third-party files decode to correct dims/content; see
functions/jpeg.py docstring)."""

import numpy as np
import pytest

from sap_spark.functions.jpeg import (
    DCT_A,
    ZIGZAG,
    encode_jpeg,
    is_jpeg,
    parse_jpeg,
)


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


def _smooth_rgb(h: int = 48, w: int = 80, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = 128 + 80 * np.sin(xx / 11.0) * np.cos(yy / 7.0)
    img = np.stack([base, np.roll(base, 5, axis=1), 255 - base], axis=-1)
    return np.clip(img + rng.normal(0, 4, img.shape), 0, 255).astype(np.uint8)


def test_dct_basis_is_orthonormal():
    assert np.allclose(DCT_A @ DCT_A.T, np.eye(8), atol=1e-12)
    assert sorted(ZIGZAG.tolist()) == list(range(64))


def test_round_trip_444_and_420():
    img = _smooth_rgb()
    for sub, floor in [(False, 34.0), (True, 31.0)]:
        out = parse_jpeg(encode_jpeg(img, quality=90, subsample=sub))
        assert out.shape == img.shape and out.dtype == np.uint8
        assert _psnr(img, out) > floor


def test_solid_color_round_trips_exactly():
    """DC-only blocks are analytically lossless at any quality: quant of
    a constant block has one nonzero (DC) coefficient, and the IDCT of
    that single coefficient reproduces the constant exactly (any
    remaining error would be a scaling/level-shift bug, which round-trip
    PSNR alone could hide symmetrically)."""
    for v in (0, 77, 128, 255):
        solid = np.full((16, 24, 3), v, np.uint8)
        out = parse_jpeg(encode_jpeg(solid, quality=90))
        assert int(np.abs(out.astype(int) - v).max()) == 0
    gray = np.full((8, 8, 1), 200, np.uint8)
    assert int(np.abs(parse_jpeg(encode_jpeg(gray)).astype(int) - 200).max()) == 0


def test_grayscale_and_odd_dimensions():
    img = _smooth_rgb()[:41, :69]
    for sub in (False, True):
        out = parse_jpeg(encode_jpeg(img, quality=80, subsample=sub))
        assert out.shape == (41, 69, 3)
        assert _psnr(img, out) > 30.0
    g = img[..., :1]
    out = parse_jpeg(encode_jpeg(g, quality=85))
    assert out.shape == (41, 69, 1)
    assert _psnr(g, out) > 35.0


def test_restart_markers_round_trip():
    """DRI/RSTn: segments decode with DC predictor resets; the result
    must be bit-identical to the no-restart encode of the same pixels
    (restarts change the entropy stream, not the quantized data)."""
    img = _smooth_rgb(40, 64, seed=3)
    plain = parse_jpeg(encode_jpeg(img, quality=85))
    for dri in (1, 3, 7):
        blob = encode_jpeg(img, quality=85, restart_interval=dri)
        assert b"\xff\xdd" in blob  # DRI segment present
        assert np.array_equal(parse_jpeg(blob), plain)


def test_sniffer_and_non_jpeg_passthrough():
    assert not is_jpeg(None) and not is_jpeg(b"") and not is_jpeg(b"\x89PNG")
    assert parse_jpeg(b"P6\n1 1\n255\n\x00\x00\x00") is None
    assert is_jpeg(encode_jpeg(np.zeros((8, 8, 1), np.uint8)))


def test_out_of_scope_and_corrupt_raise_value_error():
    img = _smooth_rgb(24, 24)
    blob = bytearray(encode_jpeg(img, quality=85))
    # arithmetic coding: flip SOF0 -> SOF9 (progressive SOF2 is in scope)
    arith = blob.copy()
    arith[arith.find(b"\xff\xc0") + 1] = 0xC9
    with pytest.raises(ValueError, match="non-baseline"):
        parse_jpeg(bytes(arith))
    # a baseline stream relabeled SOF2 is malformed AS progressive
    # (full-band Ss=0/Se=63 scan): ValueError, not a crash
    prog = blob.copy()
    prog[prog.find(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="Se=0"):
        parse_jpeg(bytes(prog))
    # truncation inside the entropy stream
    with pytest.raises(ValueError):
        parse_jpeg(bytes(blob[: len(blob) // 2]))
    # truncated segment header
    with pytest.raises(ValueError):
        parse_jpeg(bytes(blob[:10]))
    # dimension bomb: patch SOF height/width to exceed MAX_PIXELS
    bomb = blob.copy()
    sof = bomb.find(b"\xff\xc0")
    bomb[sof + 5 : sof + 9] = (9999).to_bytes(2, "big") * 2
    with pytest.raises(ValueError, match="dimensions"):
        parse_jpeg(bytes(bomb))


def test_decoder_handles_16bit_quant_tables():
    """DQT precision 1 (16-bit entries) is legal in extended streams;
    re-pack the encoder's 8-bit table as 16-bit and the image must
    decode identically."""
    import struct

    img = _smooth_rgb(16, 16)
    blob = encode_jpeg(img[..., :1], quality=85)
    plain = parse_jpeg(blob)
    i = blob.find(b"\xff\xdb")
    (length,) = struct.unpack(">H", blob[i + 2 : i + 4])
    tid, entries = blob[i + 4], blob[i + 5 : i + 2 + length]
    wide = struct.pack(">BBH", 0xFF, 0xDB, 2 + 1 + 128) + bytes(
        [0x10 | tid]
    ) + b"".join(struct.pack(">H", e) for e in entries)
    patched = blob[:i] + wide + blob[i + 2 + length :]
    assert np.array_equal(parse_jpeg(patched), plain)


def test_fuzzed_jpeg_never_escapes_the_error_contract():
    """Production contract: for ANY bytes, parse_jpeg returns an array,
    returns None (not JPEG by signature), or raises ValueError — never
    struct.error/IndexError/hangs. Fuzz with deterministic mutations of
    a valid stream (bit flips, truncations, splices) and random
    signature-prefixed garbage."""
    rng = np.random.default_rng(42)
    base = bytearray(
        encode_jpeg(_smooth_rgb(24, 32), quality=80, restart_interval=2)
    )
    cases = []
    for _ in range(150):
        mutated = base.copy()
        kind = rng.integers(0, 3)
        if kind == 0:  # flip 1-4 bytes anywhere
            for _ in range(int(rng.integers(1, 5))):
                mutated[int(rng.integers(2, len(mutated)))] = int(
                    rng.integers(0, 256)
                )
        elif kind == 1:  # truncate
            mutated = mutated[: int(rng.integers(3, len(mutated)))]
        else:  # splice a random window over itself
            a, b = sorted(rng.integers(2, len(mutated), size=2).tolist())
            mutated[a:b] = bytes(rng.integers(0, 256, size=max(0, b - a), dtype=np.uint8))
        cases.append(bytes(mutated))
    for _ in range(50):
        cases.append(
            b"\xff\xd8\xff"
            + bytes(rng.integers(0, 256, size=int(rng.integers(0, 300)), dtype=np.uint8))
        )
    outcomes = {"ok": 0, "value_error": 0}
    for blob in cases:
        try:
            out = parse_jpeg(blob)
            assert out is None or (
                isinstance(out, np.ndarray) and out.dtype == np.uint8
            )
            outcomes["ok"] += 1
        except ValueError:
            outcomes["value_error"] += 1
    # the mutation mix must actually exercise both outcomes
    assert outcomes["value_error"] > 20
    assert outcomes["ok"] > 5


def test_dqt_wire_order_is_zigzag():
    """T.81 B.2.4.1: DQT wire entries are zigzag-ordered. A raster-
    ordered table round-trips with itself and hides the bug (quant
    tables are near-symmetric under the zigzag permutation, so even
    third-party decodes LOOK right) — assert the wire bytes directly."""
    import struct

    from sap_spark.functions.jpeg import QUANT_LUMA, _scale_quant

    blob = encode_jpeg(_smooth_rgb(8, 8)[..., :1], quality=85)
    i = blob.find(b"\xff\xdb")
    (length,) = struct.unpack(">H", blob[i + 2 : i + 4])
    entries = np.frombuffer(blob[i + 5 : i + 2 + length], np.uint8)
    expect = _scale_quant(QUANT_LUMA, 85)[ZIGZAG]
    assert np.array_equal(entries.astype(np.int64), expect)


def _pack_bits(entropy_bits):
    acc = 0
    for b in entropy_bits:
        acc = (acc << 1) | b
    pad = (-len(entropy_bits)) % 8
    acc = (acc << pad) | ((1 << pad) - 1)
    return int(acc).to_bytes((len(entropy_bits) + pad) // 8, "big")


def _handmade_headers(q_zigzag, w, h, sof_marker, ac_table=None):
    import struct

    from sap_spark.functions.jpeg import (
        AC_LUMA_BITS,
        AC_LUMA_VALS,
        DC_LUMA_BITS,
        DC_LUMA_VALS,
    )

    ac_bits, ac_vals = ac_table or (AC_LUMA_BITS, AC_LUMA_VALS)

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(int(v) for v in q_zigzag))
    out += seg(
        sof_marker, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    )
    out += seg(0xC4, bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    out += seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    return out, seg


def _handmade_gray_jpeg(q_zigzag, entropy_bits, w=8, h=8):
    """Minimal grayscale baseline JPEG assembled byte-by-byte:
    zigzag-ordered DQT, standard Annex K Huffman tables, blocks whose
    entropy-coded payload the test controls exactly."""
    out, seg = _handmade_headers(q_zigzag, w, h, 0xC0)
    out += seg(0xDA, bytes([1, 1, 0x00, 0x00, 0x3F, 0x00]))
    out += _pack_bits(entropy_bits)
    out += b"\xff\xd9"
    return bytes(out)


def _handmade_progressive_gray(q_zigzag, scans, w=8, h=8, ac_table=None):
    """Grayscale progressive (SOF2) stream assembled byte-by-byte.
    ``scans``: list of (ss, se, ah, al, entropy_bits). Progressive
    streams need EOBn symbols (e.g. 0x10) absent from the baseline
    Annex K tables, so pass a custom ``ac_table`` like real encoders
    emit."""
    out, seg = _handmade_headers(q_zigzag, w, h, 0xC2, ac_table=ac_table)
    for ss, se, ah, al, bits in scans:
        out += seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        out += _pack_bits(bits)
    out += b"\xff\xd9"
    return bytes(out)


def test_decoder_applies_quant_step_to_matching_zigzag_position():
    """Known-answer test, independent of the encoder: a hand-assembled
    stream with DQT=1 everywhere except zigzag position 1 (raster basis
    (0,1)) = 200, and exactly one AC coefficient (value 1) at that same
    zigzag position. The decoded block must equal the IDCT of a raster
    coefficient grid with F[0,1] = 200 — if the decoder permuted the
    quant table (raster-vs-zigzag confusion), the step would be 1 and
    every pixel would land ~128 instead."""
    from sap_spark.functions.jpeg import (
        AC_LUMA_BITS,
        AC_LUMA_VALS,
        DC_LUMA_BITS,
        DC_LUMA_VALS,
        _encode_codes,
    )

    q = np.ones(64, np.int64)
    q[1] = 200
    dc = _encode_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac = _encode_codes(AC_LUMA_BITS, AC_LUMA_VALS)

    def bits_of(code, length):
        return [(code >> (length - 1 - i)) & 1 for i in range(length)]

    entropy = (
        bits_of(*dc[0])            # DC category 0 (diff = 0)
        + bits_of(*ac[0x01]) + [1]  # run 0, size 1, value +1 at zigzag pos 1
        + bits_of(*ac[0x00])        # EOB
    )
    blob = _handmade_gray_jpeg(q, entropy)
    out = parse_jpeg(blob)
    coef = np.zeros((8, 8))
    coef[0, 1] = 200.0
    expect = np.clip(np.rint(DCT_A.T @ coef @ DCT_A + 128.0), 0, 255)
    assert np.array_equal(out[..., 0], expect.astype(np.uint8))
    # sanity: the pattern is strongly non-constant (a permuted-table
    # decode would leave every pixel at ~128)
    assert out.max() - out.min() > 60


def test_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
    marker; decoding must be unaffected."""
    img = _smooth_rgb(16, 16)
    blob = encode_jpeg(img, quality=85)
    plain = parse_jpeg(blob)
    sof = blob.find(b"\xff\xc0")
    padded = blob[:sof] + b"\xff\xff\xff" + blob[sof:]
    assert np.array_equal(parse_jpeg(padded), plain)


def test_sos_component_id_mismatch_raises_value_error():
    """A SOS naming a component id absent from SOF must raise ValueError
    (was a KeyError escaping the documented contract)."""
    blob = bytearray(encode_jpeg(_smooth_rgb(8, 8)[..., :1], quality=85))
    sos = bytes(blob).find(b"\xff\xda")
    blob[sos + 5] = 9  # first scan component id: 1 -> 9
    with pytest.raises(ValueError):
        parse_jpeg(bytes(blob))


def test_single_component_scan_ignores_sampling_factors():
    """T.81 A.2: a single-component scan is non-interleaved — one 8x8
    unit per MCU at full resolution regardless of the SOF's declared
    sampling (jpegtran -grayscale keeps the source's 2x2). Patching the
    sampling byte from 1x1 to 2x2 must not change the decode."""
    img = _smooth_rgb(24, 24)[..., :1]
    blob = bytearray(encode_jpeg(img, quality=85))
    plain = parse_jpeg(bytes(blob))
    sof = bytes(blob).find(b"\xff\xc0")
    assert blob[sof + 11] == 0x11  # component 1 sampling byte
    blob[sof + 11] = 0x22
    assert np.array_equal(parse_jpeg(bytes(blob)), plain)


def test_mjpeg_frames_without_dht_use_default_tables():
    """The original MJPEG convention omits DHT and relies on the Annex K
    tables; players install them implicitly. Stripping both DHT
    segments from an encoder output (which uses exactly those tables)
    must decode identically."""
    img = _smooth_rgb(16, 16)[..., :1]
    blob = encode_jpeg(img, quality=85)
    plain = parse_jpeg(blob)
    import struct

    stripped = bytearray()
    i = 0
    while i < len(blob):
        if blob[i] == 0xFF and i + 1 < len(blob) and blob[i + 1] == 0xC4:
            (length,) = struct.unpack(">H", blob[i + 2 : i + 4])
            i += 2 + length
            continue
        stripped.append(blob[i])
        i += 1
    assert b"\xff\xc4" not in bytes(stripped)
    assert np.array_equal(parse_jpeg(bytes(stripped)), plain)


def test_progressive_successive_approximation_known_answer():
    """Hand-assembled SOF2 stream, 2 blocks, 4 scans (DC first Al=1, DC
    refine, AC first Al=1 with an EOB run spanning the second block, AC
    refine inserting a NEW coefficient and correcting an existing one).
    The accumulated coefficients are known exactly — block 1: DC=7,
    zz1=5, zz2=1; block 2: DC=6 — so the decode must equal the baseline
    stream carrying those exact coefficients."""
    from sap_spark.functions.jpeg import (
        AC_LUMA_BITS,
        AC_LUMA_VALS,
        DC_LUMA_BITS,
        DC_LUMA_VALS,
        _encode_codes,
    )

    dc = _encode_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    # the progressive scans need the EOBn symbol 0x10 (EOB run of 2-3),
    # which baseline Annex K tables lack — use a small custom table like
    # real progressive encoders write
    ac_bits = [0, 0, 5] + [0] * 13
    ac_vals = [0x00, 0x01, 0x02, 0x10, 0xF0]
    ac = _encode_codes(ac_bits, ac_vals)

    def bits_of(code, length):
        return [(code >> (length - 1 - i)) & 1 for i in range(length)]

    q = np.ones(64, np.int64)
    scans = [
        # DC first, Al=1: blk1 diff 3 (cat 2, bits '11'), blk2 diff 0
        (0, 0, 0, 1, bits_of(*dc[2]) + [1, 1] + bits_of(*dc[0])),
        # DC refine to Al=0: blk1 bit 1 (7&1), blk2 bit 0 (6&1)
        (0, 0, 1, 0, [1, 0]),
        # AC first, Al=1: blk1 zz1 = 5>>1 = 2 (r0 s2, bits '10'); zz2 is
        # 1>>1 = 0, invisible at this precision. EOB with r=1 + 1 extra
        # bit '0' -> eobrun = 2-1+0 = 1: ends blk1 AND covers blk2.
        (1, 63, 0, 1,
         bits_of(*ac[0x02]) + [1, 0] + bits_of(*ac[0x10]) + [0]),
        # AC refine to Al=0: blk1: symbol (r0,s1) inserts +1 at the first
        # zero-history position after refining zz1 (correction bit 1 ->
        # 4+1=5); then EOB r=0 -> eobrun=1 finishes blk1. blk2 decodes
        # its own EOB (no coefficients, no correction bits).
        (1, 63, 1, 0,
         bits_of(*ac[0x01]) + [1, 1] + bits_of(*ac[0x00])
         + bits_of(*ac[0x00])),
    ]
    prog = _handmade_progressive_gray(
        q, scans, w=16, h=8, ac_table=(ac_bits, ac_vals)
    )

    from sap_spark.functions.jpeg import AC_LUMA_BITS, AC_LUMA_VALS

    ac = _encode_codes(AC_LUMA_BITS, AC_LUMA_VALS)  # baseline uses Annex K
    baseline_bits = (
        bits_of(*dc[3]) + [1, 1, 1]          # blk1 DC diff 7
        + bits_of(*ac[0x03]) + [1, 0, 1]     # zz1 = 5
        + bits_of(*ac[0x01]) + [1]           # zz2 = 1
        + bits_of(*ac[0x00])                 # EOB
        + bits_of(*dc[1]) + [0]              # blk2 DC diff -1 -> 6
        + bits_of(*ac[0x00])                 # EOB
    )
    base = _handmade_gray_jpeg(q, baseline_bits, w=16, h=8)

    got, expect = parse_jpeg(prog), parse_jpeg(base)
    assert got.shape == expect.shape == (8, 16, 1)
    assert np.array_equal(got, expect)
    assert got.max() > got.min()  # non-constant content



try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAVE_HYPOTHESIS = False


if _HAVE_HYPOTHESIS:

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=48),
        h=st.integers(min_value=1, max_value=48),
        gray=st.booleans(),
        sub=st.booleans(),
        quality=st.integers(min_value=50, max_value=95),
        seed=st.integers(min_value=0, max_value=2**31),
    )
    def test_jpeg_round_trip_property(w, h, gray, sub, quality, seed):
        """Any geometry (including 1-pixel edges and non-multiple-of-8/16
        sizes), any quality, both samplings: encode→decode must preserve
        shape/dtype and keep smooth content within lossy-codec bounds
        (solid images exactly)."""
        rng = np.random.default_rng(seed)
        base = np.full((h, w), int(rng.integers(0, 256)), np.float64)
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.clip(
            base + 30 * np.sin(xx / 9.0) + 30 * np.cos(yy / 7.0), 0, 255
        ).astype(np.uint8)
        img = img[..., None] if gray else np.stack([img] * 3, axis=-1)
        out = parse_jpeg(
            encode_jpeg(img, quality=quality, subsample=sub and not gray)
        )
        assert out.shape == img.shape and out.dtype == np.uint8
        assert _psnr(img, out) > 25.0


def test_progressive_scan_count_is_capped():
    """A crafted stream of empty refinement scans must fail fast: per-
    scan cost is pixel-capped but scan count is attacker-controlled
    (_BitReader's legal 1-bit padding means empty scans 'succeed', so
    without a cap a sub-KB file costs O(file_size x pixels) CPU)."""
    from sap_spark.functions.jpeg import MAX_SCANS

    q = np.ones(64, np.int64)
    scans = [(0, 0, 0, 1, [0, 0])]  # DC first: category 0 (code '00')
    scans += [(0, 0, 1, 0, [0])] * MAX_SCANS  # endless DC refinements
    blob = _handmade_progressive_gray(q, scans)
    with pytest.raises(ValueError, match="scan count"):
        parse_jpeg(blob)
