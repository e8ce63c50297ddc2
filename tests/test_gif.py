"""GIF codec (sap_spark.functions.gif): LZW, palettes, animation,
and transparency. GIF is palette-lossless, so
encode→decode equality is EXACT — round trips here prove both directions
bit-for-bit, and third-party decode (stdlib-shipped icon GIFs were
verified during development) anchors the decoder independently."""

import numpy as np
import pytest

from sap_spark.functions.gif import (
    _lzw_decode,
    _lzw_encode,
    encode_gif,
    gif_frames,
    is_gif,
    parse_gif,
    parse_gif_indexed,
)


def _pal(n: int, seed: int = 1) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(n, 3), dtype=np.uint8)


def test_lzw_exact_round_trip_all_code_sizes():
    rng = np.random.default_rng(2)
    for min_code in (2, 4, 8):
        n_sym = 1 << min_code
        idx = rng.integers(0, n_sym, size=997, dtype=np.uint8)
        data = _lzw_encode(min_code, idx)
        out = _lzw_decode(min_code, data, len(idx))
        assert np.array_equal(out, idx)


def test_lzw_table_overflow_forces_clear_and_still_round_trips():
    """>4095 dictionary entries forces the encoder's mid-stream CLEAR;
    the decoder must resync. Low-entropy data grows the table fastest
    per output byte; 60k symbols of 2-bit data crosses the cap."""
    rng = np.random.default_rng(3)
    idx = rng.integers(0, 4, size=60_000, dtype=np.uint8)
    out = _lzw_decode(2, _lzw_encode(2, idx), len(idx))
    assert np.array_equal(out, idx)


def test_single_frame_exact_round_trip():
    pal = _pal(17)
    idx = np.random.default_rng(5).integers(0, 17, size=(23, 37), dtype=np.uint8)
    blob = encode_gif(palette=pal, indexed_frames=[idx])
    assert is_gif(blob)
    assert np.array_equal(parse_gif(blob), pal[idx])
    got = parse_gif_indexed(blob)
    assert np.array_equal(got[1], idx) and np.array_equal(got[0][:17], pal)
    assert got[2] is None


def test_animation_composes_frames_exactly():
    pal = _pal(16)
    rng = np.random.default_rng(7)
    f = [rng.integers(0, 16, size=(12, 18), dtype=np.uint8) for _ in range(4)]
    frames = gif_frames(encode_gif(palette=pal, indexed_frames=f))
    assert len(frames) == 4
    for got, idx in zip(frames, f):
        assert np.array_equal(got, pal[idx])


def test_transparency_keeps_underlying_pixels():
    """A transparent index in frame 2 must preserve frame 1's pixels at
    those positions (the composition rule animated GIFs rely on)."""
    pal = _pal(4)
    base = np.zeros((6, 6), np.uint8) + 2
    overlay = np.zeros((6, 6), np.uint8)  # index 0 everywhere...
    overlay[2:4, 2:4] = 3  # ...except a visible patch
    blob = encode_gif(
        palette=pal, indexed_frames=[base, overlay], transparent=0
    )
    frames = gif_frames(blob)
    expect = pal[base].copy()
    expect[2:4, 2:4] = pal[3]
    assert np.array_equal(frames[1], expect)
    # and parse_gif_indexed surfaces the transparent index
    single = encode_gif(palette=pal, indexed_frames=[base], transparent=1)
    assert parse_gif_indexed(single)[2] == 1


def test_corrupt_and_truncated_raise_value_error():
    pal = _pal(8)
    idx = np.arange(64, dtype=np.uint8).reshape(8, 8) % 8
    blob = encode_gif(palette=pal, indexed_frames=[idx])
    with pytest.raises(ValueError):
        parse_gif(blob[: len(blob) // 2])
    mangled = bytearray(blob)
    mangled[30] ^= 0xFF
    try:
        out = parse_gif(bytes(mangled))  # may survive if bits land benignly
        assert out is None or out.shape == (8, 8, 3)
    except ValueError:
        pass
    assert parse_gif(b"NOTGIF" + blob) is None  # wrong magic → stub tier


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAVE_HYPOTHESIS = False


if _HAVE_HYPOTHESIS:

    @settings(max_examples=40, deadline=None)
    @given(
        min_code=st.integers(min_value=2, max_value=8),
        data=st.data(),
    )
    def test_lzw_round_trip_property(min_code, data):
        """For any symbol stream over any alphabet size, encode→decode
        is the identity — the LZW pair's dictionary growth, width
        switches, and overflow clears must agree on every input, not
        just the fixture shapes."""
        n_sym = 1 << min_code
        idx = data.draw(
            st.lists(
                st.integers(min_value=0, max_value=n_sym - 1),
                min_size=1,
                max_size=3000,
            )
        )
        arr = np.asarray(idx, dtype=np.uint8)
        out = _lzw_decode(min_code, _lzw_encode(min_code, arr), len(arr))
        assert np.array_equal(out, arr)

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=40),
        n_colors=st.integers(min_value=2, max_value=256),
        seed=st.integers(min_value=0, max_value=2**31),
    )
    def test_gif_encode_decode_property(w, h, n_colors, seed):
        """Any palette+index image round-trips exactly through the GIF
        container (palette-lossless format)."""
        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
        idx = rng.integers(0, n_colors, size=(h, w), dtype=np.uint8)
        out = parse_gif(encode_gif(palette=pal, indexed_frames=[idx]))
        assert np.array_equal(out, pal[idx])
