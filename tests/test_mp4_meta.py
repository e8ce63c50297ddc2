"""MP4 container metadata tier (functions/mp4.py).

Validation strategy (no MP4 sample files exist in this sandbox, unlike
the JPEG/GIF third-party fixtures): a HAND-ASSEMBLED box stream with
byte offsets taken from the ISO-BMFF spec — independent of encode_mp4,
and exercising the v1 (64-bit) mvhd/mdhd and largesize paths the writer
never emits — plus writer↔parser round trips and corrupt-input
contracts (None / ValueError / never anything else).
"""

import struct

import pytest


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _hand_mp4_v1() -> bytes:
    """Version-1 mvhd/mdhd (64-bit durations), a largesize mdat, and a
    video trak — assembled field-by-field from the spec, NOT via
    encode_mp4."""
    ftyp = _box(b"ftyp", b"mp42" + struct.pack(">I", 1) + b"mp42isom")
    # mvhd v1: creation(8) modification(8) timescale(4) duration(8)
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3x", 1)
        + struct.pack(">QQIQ", 0, 0, 90000, 90000 * 7)  # 7 s at 90 kHz
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    # tkhd v1: creation(8) mod(8) track_ID(4) reserved(4) duration(8)
    tkhd = _box(
        b"tkhd",
        struct.pack(">B3x", 1)
        + struct.pack(">QQIIQ", 0, 0, 1, 0, 90000 * 7)
        + b"\x00" * 16
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", 1920 << 16, 1080 << 16),
    )
    mdhd = _box(
        b"mdhd",
        struct.pack(">B3x", 1)
        + struct.pack(">QQIQ", 0, 0, 30000, 30000 * 7)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _box(
        b"hdlr", struct.pack(">B3x", 0) + b"\x00" * 4 + b"vide" + b"\x00" * 12
    )
    # hvc1 visual sample entry: 8-byte SampleEntry + 16 pre_defined +
    # width/height + resolutions/frame_count + compressorname + depth
    entry = (
        b"\x00" * 6
        + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", 1920, 1080)
        + struct.pack(">IIIH", 0x00480000, 0x00480000, 0, 1)
        + b"\x00" * 32
        + struct.pack(">Hh", 24, -1)
    )
    stsd = _box(b"stsd", struct.pack(">B3xI", 0, 1) + _box(b"hvc1", entry))
    stts = _box(b"stts", struct.pack(">B3xIII", 0, 1, 210, 1000))
    stsz = _box(
        b"stsz",
        struct.pack(">B3xII", 0, 0, 210) + struct.pack(">I", 1000) * 210,
    )
    stbl = _box(b"stbl", stsd + stts + stsz)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    payload = b"\xab" * 32
    mdat = (
        struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(payload))
        + payload
    )  # largesize form
    return ftyp + moov + mdat


def test_hand_assembled_v1_known_answer():
    from sap_spark.functions.mp4 import parse_mp4_meta

    m = parse_mp4_meta(_hand_mp4_v1())
    assert m["brand"] == "mp42"
    assert m["duration_sec"] == 7.0  # v1 64-bit duration / 90 kHz
    assert m["n_tracks"] == 1
    (t,) = m["tracks"]
    assert t["kind"] == "video"
    assert t["codec"] == "hvc1"
    assert (t["width"], t["height"]) == (1920, 1080)
    assert t["duration_sec"] == 7.0  # mdhd at a DIFFERENT timescale
    assert t["n_samples"] == 210


def test_encode_parse_round_trip():
    from sap_spark.functions.mp4 import encode_mp4, parse_mp4_meta

    blob = encode_mp4(
        [
            {"kind": "video", "codec": "avc1", "width": 640, "height": 360,
             "n_samples": 90},
            {"kind": "audio", "codec": "mp4a", "channels": 2,
             "sample_rate": 48000, "n_samples": 141},
        ],
        duration_sec=3.0,
        mdat=b"\x00" * 64,
    )
    m = parse_mp4_meta(blob)
    assert m["duration_sec"] == 3.0
    assert m["n_tracks"] == 2
    vid, aud = m["tracks"]
    assert (vid["kind"], vid["codec"], vid["width"], vid["height"],
            vid["n_samples"]) == ("video", "avc1", 640, 360, 90)
    assert vid["channels"] is None  # audio fields nulled on video tracks
    assert (aud["kind"], aud["codec"], aud["channels"], aud["sample_rate"],
            aud["n_samples"]) == ("audio", "mp4a", 2, 48000, 141)
    assert aud["width"] is None


def test_parse_contracts_on_arbitrary_bytes():
    from sap_spark.functions.mp4 import parse_mp4_meta

    assert parse_mp4_meta(b"") is None
    assert parse_mp4_meta(b"RIFF\x00\x00\x00\x00WAVE") is None
    # ftyp magic but broken structure -> ValueError, never IndexError
    with pytest.raises(ValueError):
        parse_mp4_meta(b"\x00\x00\x00\x14ftypisom" + b"\x00" * 4)
    with pytest.raises(ValueError):  # size escapes the buffer
        parse_mp4_meta(
            b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x00"
            + b"\xff\xff\xff\xffmoov"
        )
    # fuzz: every prefix of a valid file is None/ValueError/dict
    from sap_spark.functions.mp4 import encode_mp4

    blob = encode_mp4(
        [{"kind": "video", "codec": "avc1", "width": 64, "height": 64,
          "n_samples": 10}],
        duration_sec=1.0,
    )
    for cut in range(0, len(blob), 7):
        try:
            parse_mp4_meta(blob[:cut])
        except ValueError:
            pass


def test_box_bomb_caps():
    """Pathological nesting / box counts fail fast with ValueError
    rather than recursing or allocating unboundedly."""
    from sap_spark.functions.mp4 import parse_mp4_meta

    deep = b""
    for _ in range(20):  # moov-in-moov 20 deep
        deep = _box(b"moov", deep)
    with pytest.raises(ValueError, match="nesting"):
        parse_mp4_meta(_box(b"ftyp", b"isom\x00\x00\x00\x00isom") + deep)


def test_gif_meta_structural_walk():
    """gif_meta agrees with the full decoder on frame count and dims
    without running LZW; delay sums to the animation duration."""
    import numpy as np

    from sap_spark.functions.gif import encode_gif, gif_frames, gif_meta

    pal = (np.arange(16 * 3, dtype=np.uint64) * 29 % 256).astype(
        "uint8").reshape(16, 3)
    frames = [
        ((np.arange(9 * 7, dtype=np.uint64) * 3 + f) % 16)
        .astype("uint8").reshape(7, 9)
        for f in range(5)
    ]
    blob = encode_gif(palette=pal, indexed_frames=frames)
    m = gif_meta(blob)
    assert (m["width"], m["height"]) == (9, 7)
    assert m["n_frames"] == len(gif_frames(blob)) == 5
    if m["duration_sec"] is not None:
        assert m["duration_sec"] > 0
    with pytest.raises(ValueError):  # GIF magic but truncated header
        gif_meta(b"GIF89a" + b"\x00" * 3)
    with pytest.raises(ValueError):
        gif_meta(b"GIF89a\x09\x00\x07\x00\x00\x00\x00\xff")  # bad block
