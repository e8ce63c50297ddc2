"""Minimal ISO-BMFF (MP4/MOV) container layer — pure stdlib.

The CONTAINER walk is real: box parse (32-bit and 64-bit largesize),
``moov``/``trak``/``mdia``/``minf``/``stbl`` recursion, ``mvhd``/
``mdhd`` durations, ``tkhd``/visual-sample-entry dimensions, ``hdlr``
track typing, ``stsd`` codec fourcc, ``stts``/``stsz`` sample counts.
That yields true typed metadata (duration, fps, width/height, codec,
track layout) for MP4 video columns in a training-data pipeline.

Decoding the coded SAMPLES (H.264/AAC) is NOT implemented — those
codecs genuinely cannot be reimplemented here.

Reference analog: the plugins treat media payloads as opaque
Edm.Binary/stream properties with typed metadata alongside
(SapODataTransformer media handling); this module is the Spark-side
typed-metadata layer over the same shape.

Contract (same as the other codec modules): ``parse_mp4_meta`` returns
None for not-an-MP4 (no ftyp/moov), raises ValueError for a
structurally corrupt container, and never raises anything else on
arbitrary bytes.
"""

from __future__ import annotations

import struct

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}
# boxes small enough to parse eagerly; mdat is never materialized
_MAX_BOXES = 4096


def is_mp4(blob: bytes) -> bool:
    return (
        blob is not None
        and len(blob) >= 12
        and blob[4:8] == b"ftyp"
    )


def _walk(data: bytes, pos: int, end: int, out: list, depth: int) -> None:
    """Collect (type, body_start, body_end) for every box, recursing into
    container boxes. Bounded by _MAX_BOXES and depth to keep arbitrary
    bytes from exploding the walk."""
    if depth > 8:
        raise ValueError("mp4 box nesting too deep")
    while pos + 8 <= end:
        if len(out) >= _MAX_BOXES:
            raise ValueError("mp4 box count exceeds cap")
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        btype = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize follows the type
            if pos + 16 > end:
                raise ValueError("truncated mp4 largesize box")
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body = pos + 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError("mp4 box size out of bounds")
        out.append((btype, body, pos + size))
        if btype in _CONTAINERS:
            _walk(data, body, pos + size, out, depth + 1)
        pos += size


def _full_box(data: bytes, start: int) -> tuple[int, int]:
    """(version, payload offset past the version/flags word)."""
    if start + 4 > len(data):
        raise ValueError("truncated mp4 full box")
    return data[start], start + 4


def _parse_stsd(data: bytes, start: int, end: int) -> dict:
    """First sample-description entry → codec fourcc (+ dims/audio)."""
    _, p = _full_box(data, start)
    (count,) = struct.unpack(">I", data[p : p + 4])
    p += 4
    if count == 0 or p + 8 > end:
        return {}
    (esize,) = struct.unpack(">I", data[p : p + 4])
    fourcc = data[p + 4 : p + 8].decode("latin-1")
    entry = data[p + 8 : min(p + esize, end)]
    info: dict = {"codec": fourcc}
    # SampleEntry: reserved[6] + data_reference_index(2) = 8 bytes, then
    # VisualSampleEntry: 16 bytes pre_defined/reserved, width(2), height(2)
    if len(entry) >= 28:
        w, h = struct.unpack(">HH", entry[24:28])
        if 0 < w < 32768 and 0 < h < 32768:
            info["width"], info["height"] = w, h
    # AudioSampleEntry: 8 bytes reserved, channelcount(2), samplesize(2),
    # pre_defined(2), reserved(2), samplerate(16.16 fixed)
    if len(entry) >= 28:
        chans, _bits = struct.unpack(">HH", entry[16:20])
        (rate_fx,) = struct.unpack(">I", entry[24:28])
        info["channels"], info["sample_rate"] = chans, rate_fx >> 16
    return info


def parse_mp4_meta(blob: bytes) -> "dict | None":
    """Container-level metadata for an ISO-BMFF blob.

    Returns ``{"brand", "duration_sec", "n_tracks", "tracks": [
    {"kind", "codec", "width", "height", "n_samples", "duration_sec",
    "channels", "sample_rate"}...]}``; None if not MP4; ValueError if
    the box structure is corrupt."""
    if not is_mp4(blob):
        return None
    boxes: list = []
    try:
        _walk(blob, 0, len(blob), boxes, 0)
    except struct.error as exc:  # truncated fixed-width reads
        raise ValueError("corrupt mp4 box structure") from exc
    by_type: dict = {}
    for btype, s, e in boxes:
        by_type.setdefault(btype, []).append((s, e))
    if b"moov" not in by_type:
        raise ValueError("mp4 missing moov box")
    try:
        brand = blob[by_type[b"ftyp"][0][0] : by_type[b"ftyp"][0][0] + 4].decode(
            "latin-1"
        )
        meta: dict = {"brand": brand, "duration_sec": None, "tracks": []}
        if b"mvhd" in by_type:
            s, e = by_type[b"mvhd"][0]
            ver, p = _full_box(blob, s)
            if ver == 1:
                ts, dur = struct.unpack(">IQ", blob[p + 16 : p + 28])
            else:
                ts, dur = struct.unpack(">II", blob[p + 8 : p + 16])
            if ts:
                meta["duration_sec"] = round(dur / ts, 6)

        # group the recursed boxes by enclosing trak extent
        for tstart, tend in by_type.get(b"trak", []):
            track: dict = {
                "kind": None, "codec": None, "width": None, "height": None,
                "n_samples": None, "duration_sec": None,
                "channels": None, "sample_rate": None,
            }
            for btype, s, e in boxes:
                if not (tstart <= s and e <= tend):
                    continue
                if btype == b"tkhd":
                    ver, p = _full_box(blob, s)
                    # width/height: 16.16 fixed, last 8 bytes of the box
                    if e - 8 >= p:
                        wfx, hfx = struct.unpack(">II", blob[e - 8 : e])
                        if wfx and hfx:
                            track["width"] = wfx >> 16
                            track["height"] = hfx >> 16
                elif btype == b"mdhd":
                    ver, p = _full_box(blob, s)
                    if ver == 1:
                        ts, dur = struct.unpack(">IQ", blob[p + 16 : p + 28])
                    else:
                        ts, dur = struct.unpack(">II", blob[p + 8 : p + 16])
                    if ts:
                        track["duration_sec"] = round(dur / ts, 6)
                elif btype == b"hdlr":
                    _, p = _full_box(blob, s)
                    track["kind"] = {
                        b"vide": "video", b"soun": "audio", b"text": "text",
                    }.get(blob[p + 4 : p + 8], "other")
                elif btype == b"stsd":
                    info = _parse_stsd(blob, s, e)
                    track["codec"] = info.get("codec")
                    if "width" in info:
                        track["width"] = info["width"]
                        track["height"] = info["height"]
                    elif "channels" in info:
                        track["channels"] = info["channels"]
                        track["sample_rate"] = info["sample_rate"]
                elif btype == b"stsz":
                    _, p = _full_box(blob, s)
                    _fixed, count = struct.unpack(">II", blob[p : p + 8])
                    track["n_samples"] = count
            # audio fields only make sense on audio tracks (the stsd
            # visual/audio layouts overlap; kind disambiguates)
            if track["kind"] == "video":
                track["channels"] = track["sample_rate"] = None
            elif track["kind"] == "audio":
                track["width"] = track["height"] = None
            meta["tracks"].append(track)
        meta["n_tracks"] = len(meta["tracks"])
        return meta
    except (struct.error, IndexError, KeyError) as exc:
        raise ValueError("corrupt mp4 metadata") from exc


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _fbox(btype: bytes, version: int, payload: bytes) -> bytes:
    return _box(btype, struct.pack(">I", version << 24) + payload)


def encode_mp4(
    tracks: "list[dict]",
    duration_sec: float,
    mdat: bytes = b"",
    brand: bytes = b"isom",
) -> bytes:
    """Minimal valid ISO-BMFF container (container layer only; ``mdat``
    carries opaque coded samples). Each track dict: kind ('video'|
    'audio'), codec fourcc, and width/height or channels/sample_rate,
    n_samples. Fixture/datagen writer, exercised against the parser."""
    ts = 1000
    dur = int(duration_sec * ts)
    mvhd = _fbox(
        b"mvhd", 0,
        struct.pack(">IIII", 0, 0, ts, dur)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8 + _IDENTITY_MATRIX + b"\x00" * 24
        + struct.pack(">I", len(tracks) + 1),
    )
    traks = []
    for tid, t in enumerate(tracks, start=1):
        video = t["kind"] == "video"
        w, h = (t.get("width", 0), t.get("height", 0)) if video else (0, 0)
        # creation, modification, track_ID, reserved, duration; then
        # reserved(8) layer(2) alt_group(2) volume(2) reserved(2)
        tkhd = _fbox(
            b"tkhd", 0,
            struct.pack(">IIIII", 0, 0, tid, 0, dur)
            + b"\x00" * 16 + _IDENTITY_MATRIX
            + struct.pack(">II", w << 16, h << 16),
        )
        mdhd = _fbox(
            b"mdhd", 0, struct.pack(">IIIIHH", 0, 0, ts, dur, 0x55C4, 0)
        )
        handler = b"vide" if video else b"soun"
        hdlr = _fbox(
            b"hdlr", 0, b"\x00" * 4 + handler + b"\x00" * 12 + b"trk\x00"
        )
        fourcc = t["codec"].encode("latin-1")[:4].ljust(4, b" ")
        if video:
            entry = (
                b"\x00" * 6 + struct.pack(">H", 1)          # SampleEntry
                + b"\x00" * 16                                # pre_defined
                + struct.pack(">HH", w, h)
                + struct.pack(">IIIH", 0x00480000, 0x00480000, 0, 1)
                + b"\x00" * 32                                # compressorname
                + struct.pack(">Hh", 24, -1)
            )
        else:
            entry = (
                b"\x00" * 6 + struct.pack(">H", 1)
                + b"\x00" * 8
                + struct.pack(">HHHH", t.get("channels", 2), 16, 0, 0)
                + struct.pack(">I", t.get("sample_rate", 44100) << 16)
            )
        stsd = _fbox(
            b"stsd", 0, struct.pack(">I", 1) + _box(fourcc, entry)
        )
        n = t.get("n_samples", 0)
        delta = dur // n if n else 0
        stts = _fbox(b"stts", 0, struct.pack(">III", 1, n, delta))
        stsc = _fbox(b"stsc", 0, struct.pack(">IIII", 1, 1, max(n, 1), 1))
        stsz = _fbox(b"stsz", 0, struct.pack(">II", 1, n))  # uniform size
        stco = _fbox(b"stco", 0, struct.pack(">II", 1, 0))
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        traks.append(_box(b"trak", tkhd + mdia))
    moov = _box(b"moov", mvhd + b"".join(traks))
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0x200) + brand)
    return ftyp + moov + _box(b"mdat", mdat)


_IDENTITY_MATRIX = struct.pack(
    ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)
