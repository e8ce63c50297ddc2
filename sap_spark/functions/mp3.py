"""MPEG-audio (MP3) frame-header walk + FLAC STREAMINFO — pure stdlib.

The METADATA tier is real: ID3v2 skip (syncsafe size), per-frame
header validation (sync, MPEG version 1/2/2.5, layers I-III, bitrate
and sample-rate tables, padding), exact frame-size stepping, Xing/Info
VBR headers (frame-count flag, at the side-info-dependent offset), and
ID3v1 trailer detection. Walking every frame yields true duration,
mean bitrate, CBR/VBR-ness, sample rate and channel layout for MP3
audio columns in a training-data pipeline — the quality/dedup signals
that matter at 100 TB — without decoding a single granule.

Decoding the coded SAMPLES (hybrid filterbank, Huffman spectra, IMDCT)
is NOT implemented — that codec genuinely cannot be reimplemented
here, exactly like H.264/AAC in the MP4 tier.

FLAC gets the same treatment one level cheaper: the mandatory first
metadata block (STREAMINFO) carries sample rate, channels, bit depth
and total samples, so duration is exact with no frame walk at all.

Reference analog: the plugins treat media payloads as opaque
Edm.Binary/stream properties with typed metadata alongside
(SapODataTransformer media handling); this module is the Spark-side
typed-metadata layer over the same shape.

Contract (same as the other codec modules): ``parse_mp3_meta`` /
``parse_flac_streaminfo`` return None when the blob is not that format
by signature, raise ValueError for format-by-signature blobs that are
structurally corrupt, and never raise anything else on arbitrary
bytes.
"""

from __future__ import annotations

import struct

# bitrate tables in kbps, indexed 1..14 (0 = free-format: rejected,
# 15 = invalid). Keyed by (version_group, layer); MPEG2 and 2.5 share
# the LSF tables.
_BITRATES = {
    (1, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (2, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
# sample rates by version: MPEG1 / MPEG2 / MPEG2.5 (index = 2-bit field)
_RATES = {
    1: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    25: (11025, 12000, 8000),
}
# samples per frame by (version_group, layer)
_SPF = {
    (1, 1): 384, (1, 2): 1152, (1, 3): 1152,
    (2, 1): 384, (2, 2): 1152, (2, 3): 576,
}
_VERSION_BITS = {0b00: 25, 0b10: 2, 0b11: 1}  # 0b01 reserved
_LAYER_BITS = {0b01: 3, 0b10: 2, 0b11: 1}  # 0b00 reserved
# hard cap on frames walked; at the minimum frame size this is ~100 MB
# of audio, far beyond any validation asset, and bounds adversarial
# blobs to a linear scan
_MAX_FRAMES = 1 << 20


def _syncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _frame_header(blob: bytes, pos: int) -> "dict | None":
    """Parse+validate the 4-byte MPEG audio frame header at ``pos``.
    None when the bytes there are not a valid header (caller decides
    whether that is 'end of audio' or 'corrupt')."""
    if pos + 4 > len(blob):
        return None
    h = struct.unpack(">I", blob[pos : pos + 4])[0]
    if (h >> 21) & 0x7FF != 0x7FF:  # 11-bit sync
        return None
    version = _VERSION_BITS.get((h >> 19) & 0b11)
    layer = _LAYER_BITS.get((h >> 17) & 0b11)
    if version is None or layer is None:
        return None
    vgroup = 1 if version == 1 else 2
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 0b11
    if br_idx in (0, 15) or sr_idx == 3:  # free-format / invalid
        return None
    bitrate = _BITRATES[(vgroup, layer)][br_idx - 1] * 1000
    rate = _RATES[version][sr_idx]
    padding = (h >> 9) & 1
    mode = (h >> 6) & 0b11  # 11 = mono
    if layer == 1:
        size = (12 * bitrate // rate + padding) * 4
    elif layer == 2 or vgroup == 1:
        size = 144 * bitrate // rate + padding
    else:  # layer III at MPEG2/2.5 half-rate
        size = 72 * bitrate // rate + padding
    return {
        "version": version,
        "layer": layer,
        "bitrate": bitrate,
        "rate": rate,
        "size": size,
        "channels": 1 if mode == 0b11 else 2,
        "spf": _SPF[(vgroup, layer)],
        "crc": not ((h >> 16) & 1),
    }


def _xing_frames(blob: bytes, pos: int, hdr: dict) -> "tuple[int | None, bool]":
    """(frame count from a Xing/Info header in the frame at ``pos``,
    whether the stream declares itself VBR). The tag sits right after
    the layer-III side info, whose size depends on version and mode."""
    if hdr["layer"] != 3:
        return None, False
    side = (17 if hdr["channels"] == 1 else 32) if hdr["version"] == 1 else (
        9 if hdr["channels"] == 1 else 17
    )
    off = pos + 4 + (2 if hdr["crc"] else 0) + side
    magic = blob[off : off + 4]
    if magic not in (b"Xing", b"Info"):
        return None, False
    if off + 8 > len(blob):
        return None, False
    (flags,) = struct.unpack(">I", blob[off + 4 : off + 8])
    n = None
    if flags & 1 and off + 12 <= len(blob):
        (n,) = struct.unpack(">I", blob[off + 8 : off + 12])
    return n, magic == b"Xing"


def parse_mp3_meta(blob: bytes) -> "dict | None":
    """Walk every MPEG audio frame → typed metadata dict with keys
    ``duration_sec, sample_rate, n_channels, bitrate_kbps, codec, vbr,
    n_frames``. None when the blob is not MPEG audio by signature (no
    ID3v2 tag and no immediate frame sync); ValueError when an ID3 tag
    or a first valid frame promises MPEG audio but the stream is
    structurally broken."""
    if blob is None or len(blob) < 4:
        return None
    pos = 0
    tagged = False
    if blob[:3] == b"ID3":
        if len(blob) < 10:
            raise ValueError("truncated ID3v2 header")
        tagged = True
        pos = 10 + _syncsafe(blob[6:10])
        if blob[5] & 0x10:  # footer-present flag
            pos += 10
        if pos >= len(blob):
            raise ValueError("ID3v2 tag exceeds blob")
    first = _frame_header(blob, pos)
    if first is None:
        if tagged:
            raise ValueError("no MPEG frame sync after ID3v2 tag")
        return None
    end = len(blob)
    if end - pos >= 128 and blob[end - 128 : end - 125] == b"TAG":
        end -= 128  # ID3v1 trailer
    xing_n, vbr_tag = _xing_frames(blob, pos, first)
    n_frames = 0
    audio_bytes = 0
    bitrates = set()
    cur = pos
    while cur + 4 <= end and n_frames < _MAX_FRAMES:
        hdr = _frame_header(blob, cur)
        if hdr is None:
            break  # trailing junk/truncated final frame: stop, keep count
        if hdr["rate"] != first["rate"] or hdr["layer"] != first["layer"]:
            break  # a sync-valued word inside data, not a frame
        if cur + hdr["size"] > end:
            break  # truncated final frame: incomplete, don't count it
        n_frames += 1
        audio_bytes += hdr["size"]
        bitrates.add(hdr["bitrate"])
        cur += hdr["size"]
    if n_frames == 0:
        raise ValueError("no complete MPEG audio frame")
    # a Xing/Info frame is a metadata placeholder, not audio: drop it
    # from both the frame count AND the byte total, or mean bitrate
    # overstates by (n+1)/n on every tagged stream
    tagged_stream = xing_n is not None or vbr_tag
    data_frames = max(n_frames - (1 if tagged_stream else 0), 1)
    if tagged_stream and n_frames > 1:
        audio_bytes -= first["size"]
    total = xing_n if xing_n else data_frames
    duration = total * first["spf"] / first["rate"]
    mean_kbps = (
        round(audio_bytes * 8 / duration / 1000) if duration > 0 else None
    )
    return {
        "duration_sec": round(duration, 6),
        "sample_rate": first["rate"],
        "n_channels": first["channels"],
        "bitrate_kbps": mean_kbps,
        "codec": "mpeg{}-layer{}".format(
            "2.5" if first["version"] == 25 else first["version"],
            first["layer"],
        ),
        "vbr": vbr_tag or len(bitrates) > 1,
        "n_frames": total,
    }


def parse_flac_streaminfo(blob: bytes) -> "dict | None":
    """FLAC STREAMINFO (the mandatory first metadata block) → the same
    metadata dict shape as :func:`parse_mp3_meta`. None when the blob
    is not FLAC by magic; ValueError for FLAC-by-magic blobs whose
    first block is not a well-formed STREAMINFO."""
    if blob is None or len(blob) < 4 or blob[:4] != b"fLaC":
        return None
    if len(blob) < 8 + 34:
        raise ValueError("truncated FLAC header")
    btype = blob[4] & 0x7F
    (blen,) = struct.unpack(">I", b"\x00" + blob[5:8])
    if btype != 0 or blen != 34:
        raise ValueError("FLAC first block is not STREAMINFO")
    info = blob[8 : 8 + 34]
    packed = int.from_bytes(info[10:18], "big")
    rate = packed >> 44
    channels = ((packed >> 41) & 0b111) + 1
    bits = ((packed >> 36) & 0b11111) + 1
    total = packed & ((1 << 36) - 1)
    if rate == 0:
        raise ValueError("bad FLAC sample rate")
    duration = total / rate if total else None
    return {
        "duration_sec": round(duration, 6) if duration is not None else None,
        "sample_rate": rate,
        "n_channels": channels,
        "bitrate_kbps": (
            round(len(blob) * 8 / duration / 1000) if duration else None
        ),
        "codec": f"flac-{bits}bit",
        "vbr": True,  # FLAC frames are inherently variable-size
        "n_frames": None,
    }


def encode_mp3(
    n_frames: int,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    channels: int = 2,
    xing: bool = False,
) -> bytes:
    """Structurally valid MPEG1 layer-III stream with ZERO-filled
    granules — a metadata-real synthetic encoder (the audio analog of
    :func:`sap_spark.functions.mp4.encode_mp4`'s opaque coded samples):
    every frame header is genuine and :func:`parse_mp3_meta` walks it
    exactly, but the payload is not decodable audio. ``xing`` prepends
    a Xing metadata frame declaring ``n_frames`` data frames."""
    table = _BITRATES[(1, 3)]
    if bitrate_kbps not in table:
        raise ValueError(f"bitrate {bitrate_kbps} not in the MPEG1-L3 table")
    if sample_rate not in _RATES[1]:
        raise ValueError(f"sample rate {sample_rate} is not an MPEG1 rate")
    if channels not in (1, 2) or n_frames < 1:
        raise ValueError("channels must be 1/2 and n_frames >= 1")
    br_idx = table.index(bitrate_kbps) + 1
    sr_idx = _RATES[1].index(sample_rate)
    mode = 0b11 if channels == 1 else 0b00
    size = 144 * bitrate_kbps * 1000 // sample_rate
    header = bytes(
        [0xFF, 0b11111011, (br_idx << 4) | (sr_idx << 2), mode << 6]
    )
    frame = header + b"\x00" * (size - 4)
    out = bytearray()
    if xing:
        tag = bytearray(frame)
        off = 4 + (17 if channels == 1 else 32)  # MPEG1 side info, no CRC
        tag[off : off + 12] = b"Xing" + struct.pack(">II", 1, n_frames)
        out += tag
    out += frame * n_frames
    return bytes(out)


def encode_flac(
    sample_rate: int = 44100,
    channels: int = 2,
    bits: int = 16,
    total_samples: int = 0,
    coded_bytes: int = 64,
) -> bytes:
    """FLAC signature + a genuine STREAMINFO block + ``coded_bytes`` of
    opaque (non-decodable) frame bytes. Real metadata, gated samples —
    see :func:`encode_mp3`."""
    if not (1 <= channels <= 8 and 4 <= bits <= 32 and sample_rate > 0):
        raise ValueError("bad FLAC stream parameters")
    if total_samples >= 1 << 36 or sample_rate >= 1 << 20:
        raise ValueError("FLAC field overflow")
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits - 1) << 36)
        | total_samples
    )
    info = b"\x00" * 10 + packed.to_bytes(8, "big") + b"\x00" * 16
    return (
        b"fLaC"
        + b"\x80\x00\x00\x22"
        + info
        + bytes((i * 73 + 29) % 251 for i in range(coded_bytes))
    )
