"""MP3/FLAC audio-metadata tier (functions/mp3.py).

Known-answer fixtures are HAND-ASSEMBLED from the public MPEG-audio and
FLAC bit layouts (frame-header fields, Xing offset after layer-III side
info, STREAMINFO packing) — independent of the parser under test — plus
one third-party file that ships in this sandbox (gsutil's test.mp3,
MPEG2 layer III 64 kbps 22050 Hz mono, hand-decoded in the assertions'
comments). Mirrors test_mp4_meta.py for the video twin.
"""

from __future__ import annotations

import os
import random
import struct

import pytest

from sap_spark.functions.mp3 import parse_flac_streaminfo, parse_mp3_meta

REAL_MP3 = "/usr/lib/google-cloud-sdk/platform/gsutil/gslib/tests/test_data/test.mp3"


def _frame_bytes(
    *,
    version_bits: int = 0b11,  # MPEG1
    layer_bits: int = 0b01,  # layer III
    br_idx: int = 9,  # MPEG1-L3 table[8] = 128 kbps
    sr_idx: int = 0,  # 44100 (MPEG1)
    pad: int = 0,
    mode: int = 0b00,  # stereo
    size: int = 417,  # 144*128000//44100
) -> bytearray:
    """One structurally valid frame, zero-filled payload. The header is
    packed field-by-field from the spec layout, not via the module."""
    b2 = 0b11100000 | (version_bits << 3) | (layer_bits << 1) | 1  # no CRC
    b3 = (br_idx << 4) | (sr_idx << 2) | (pad << 1)
    frame = bytearray(size)
    frame[0:4] = bytes([0xFF, b2, b3, mode << 6])
    return frame


def _id3v2(body_len: int = 22) -> bytes:
    """ID3v2.3 header + zero body; size is syncsafe by construction for
    body_len < 128."""
    return b"ID3\x03\x00\x00" + bytes([0, 0, 0, body_len]) + b"\x00" * body_len


def test_cbr_mpeg1_layer3_known_answer():
    blob = bytes(b"".join(_frame_bytes() for _ in range(10)))
    m = parse_mp3_meta(blob)
    # 10 frames x 1152 samples @ 44100 Hz
    assert m["n_frames"] == 10
    assert m["duration_sec"] == round(10 * 1152 / 44100, 6)
    assert m["sample_rate"] == 44100
    assert m["n_channels"] == 2
    assert m["codec"] == "mpeg1-layer3"
    assert m["vbr"] is False
    # mean bitrate: 4170 bytes over 0.261224 s -> 127.7 -> 128 kbps
    assert m["bitrate_kbps"] == 128


def test_id3v2_skip_and_id3v1_trailer_excluded():
    audio = b"".join(_frame_bytes() for _ in range(5))
    blob = _id3v2() + bytes(audio) + b"TAG" + b"\x00" * 125
    m = parse_mp3_meta(blob)
    assert m["n_frames"] == 5
    assert m["duration_sec"] == round(5 * 1152 / 44100, 6)
    # the 128-byte ID3v1 trailer must not be walked as junk-after-audio
    bare = parse_mp3_meta(bytes(audio))
    assert m["n_frames"] == bare["n_frames"]


def test_xing_header_frame_count_wins_and_marks_vbr():
    # MPEG1 stereo, no CRC: side info = 32 bytes, so Xing sits at 4+32
    first = _frame_bytes()
    first[36:40] = b"Xing"
    first[40:44] = struct.pack(">I", 1)  # flags: frames present
    first[44:48] = struct.pack(">I", 100)
    blob = bytes(first) + b"".join(_frame_bytes() for _ in range(3))
    m = parse_mp3_meta(blob)
    assert m["vbr"] is True
    assert m["n_frames"] == 100
    assert m["duration_sec"] == round(100 * 1152 / 44100, 6)


def test_mixed_bitrates_detected_as_vbr_without_tag():
    # 160 kbps frame in MPEG1-L3 is table index 10 -> size 144*160000//44100
    blob = bytes(
        b"".join(_frame_bytes() for _ in range(3))
        + _frame_bytes(br_idx=10, size=144 * 160000 // 44100)
    )
    m = parse_mp3_meta(blob)
    assert m["vbr"] is True and m["n_frames"] == 4


def test_mpeg2_mono_half_rate_frames():
    # MPEG2 (version bits 0b10) L3 64 kbps @ 22050: size 72*64000//22050
    size = 72 * 64000 // 22050
    blob = bytes(
        b"".join(
            _frame_bytes(
                version_bits=0b10, br_idx=8, sr_idx=0, mode=0b11, size=size
            )
            for _ in range(7)
        )
    )
    m = parse_mp3_meta(blob)
    assert m["codec"] == "mpeg2-layer3"
    assert m["sample_rate"] == 22050 and m["n_channels"] == 1
    # MPEG2 layer III: 576 samples per frame, not 1152
    assert m["duration_sec"] == round(7 * 576 / 22050, 6)


@pytest.mark.skipif(not os.path.exists(REAL_MP3), reason="gsutil fixture absent")
def test_real_third_party_mp3():
    """gsutil's test.mp3: 9436 bytes = 32-byte ID3v2 + 45 x 208-byte
    MPEG2-L3 frames (first header 0xfff380c4 hand-decodes to 64 kbps,
    22050 Hz, mono) + 44 bytes of 0x55 padding; no ID3v1 'TAG'."""
    with open(REAL_MP3, "rb") as fh:
        m = parse_mp3_meta(fh.read())
    assert m == {
        "duration_sec": round(45 * 576 / 22050, 6),
        "sample_rate": 22050,
        "n_channels": 1,
        "bitrate_kbps": 64,
        "codec": "mpeg2-layer3",
        "vbr": False,
        "n_frames": 45,
    }


def test_mp3_contract_none_valueerror_fuzz():
    assert parse_mp3_meta(b"") is None
    assert parse_mp3_meta(b"RIFF\x00\x00\x00\x00WAVE") is None
    assert parse_mp3_meta(b"\x00" * 64) is None
    # ID3 promises MPEG audio; garbage after the tag is corrupt
    with pytest.raises(ValueError):
        parse_mp3_meta(_id3v2() + b"\x00" * 32)
    with pytest.raises(ValueError):
        parse_mp3_meta(b"ID3\x03\x00")  # truncated ID3v2 header
    with pytest.raises(ValueError):
        parse_mp3_meta(_id3v2(120)[:20])  # tag size exceeds blob
    # frame sync but the frame never completes
    with pytest.raises(ValueError):
        parse_mp3_meta(bytes(_frame_bytes())[:40])
    rng = random.Random(7)
    for _ in range(3000):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 160)))
        try:
            parse_mp3_meta(blob)
            parse_flac_streaminfo(blob)
        except ValueError:
            pass  # the only sanctioned exception


def _flac_blob(rate=48000, ch=2, bits=16, total=96000, tail=b"") -> bytes:
    packed = (rate << 44) | ((ch - 1) << 41) | ((bits - 1) << 36) | total
    info = b"\x00" * 10 + packed.to_bytes(8, "big") + b"\x00" * 16
    return b"fLaC" + b"\x80" + b"\x00\x00\x22" + info + tail


def test_flac_streaminfo_known_answer():
    m = parse_flac_streaminfo(_flac_blob())
    assert m["duration_sec"] == 2.0  # 96000 samples @ 48 kHz
    assert m["sample_rate"] == 48000
    assert m["n_channels"] == 2
    assert m["codec"] == "flac-16bit"
    assert m["vbr"] is True and m["n_frames"] is None
    # 8-channel 24-bit 96k corner
    m2 = parse_flac_streaminfo(_flac_blob(rate=96000, ch=8, bits=24, total=0))
    assert (m2["n_channels"], m2["codec"]) == (8, "flac-24bit")
    assert m2["duration_sec"] is None  # total-samples field may be 0=unknown


def test_flac_contract():
    assert parse_flac_streaminfo(b"") is None
    assert parse_flac_streaminfo(b"OggS\x00\x00") is None
    with pytest.raises(ValueError):
        parse_flac_streaminfo(b"fLaC\x80\x00\x00\x22" + b"\x00" * 10)  # short
    with pytest.raises(ValueError):
        # first block is PADDING (type 1), not STREAMINFO
        parse_flac_streaminfo(b"fLaC\x01\x00\x00\x22" + b"\x00" * 34)
    with pytest.raises(ValueError):
        parse_flac_streaminfo(_flac_blob(rate=0))


def test_encode_mp3_round_trip_and_validation():
    from sap_spark.functions.mp3 import encode_flac, encode_mp3

    m = parse_mp3_meta(encode_mp3(8, bitrate_kbps=96, sample_rate=48000,
                                  channels=1))
    assert (m["n_frames"], m["sample_rate"], m["n_channels"], m["vbr"]) == (
        8, 48000, 1, False)
    assert m["duration_sec"] == round(8 * 1152 / 48000, 6)
    # Xing variant: declared count wins, stream reads as VBR, and the
    # tag frame's bytes don't inflate the mean bitrate
    x = parse_mp3_meta(encode_mp3(8, xing=True))
    assert x["n_frames"] == 8 and x["vbr"] is True
    assert x["bitrate_kbps"] == 128
    f = parse_flac_streaminfo(encode_flac(44100, 1, 24, 44100))
    assert (f["duration_sec"], f["codec"]) == (1.0, "flac-24bit")
    with pytest.raises(ValueError):
        encode_mp3(4, bitrate_kbps=123)  # not an MPEG1-L3 table rate
    with pytest.raises(ValueError):
        encode_flac(sample_rate=0)
