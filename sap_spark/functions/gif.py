"""GIF codec in pure numpy + stdlib — the real-codec tier for
``image/gif`` payloads, including animation.

Implemented from the public GIF87a/GIF89a specification: logical screen
descriptor, global/local color tables, variable-width LZW decode (clear/
end codes, 12-bit cap), 4-pass interlace, graphic-control extensions
(transparency + disposal methods 0-2; method 3 "restore previous" is
approximated as draw-over, which is the right trade for a thumbnail/
feature pipeline and documented here), and multi-frame composition. The
encoder writes real variable-width LZW with a fresh table per frame —
fixtures and resize output round-trip losslessly because GIF is
palette-exact.

Scope/honesty: ValueError for structurally broken streams (the caller
nulls the row / drops the asset, never kills the job); a pixel cap
bounds decode cost like the JPEG tier."""

from __future__ import annotations

import struct

import numpy as np

MAX_PIXELS = 1 << 24  # per-frame cap, same spirit as jpeg.MAX_PIXELS
MAX_FRAMES = 10_000


def is_gif(blob: bytes) -> bool:
    return (
        blob is not None
        and len(blob) >= 6
        and blob[:6] in (b"GIF87a", b"GIF89a")
    )


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _lzw_decode(min_code_size: int, data: bytes, expected: int) -> "np.ndarray":
    """Variable-width GIF-LZW → uint8 index stream of ``expected`` pixels.
    Table entries are stored as (prefix_code, tail_byte) pairs so growth
    is O(1) per emitted code; output materializes once at the end."""
    if not 2 <= min_code_size <= 11:
        raise ValueError("bad LZW minimum code size")
    clear = 1 << min_code_size
    end = clear + 1
    # LSB-first reader indexing the bytes directly (no 64x bit-list blowup)
    nbits = 8 * len(data)
    pos = 0
    prefix: list[int] = [-1] * (clear + 2)
    tail: list[int] = list(range(clear)) + [0, 0]
    lengths: list[int] = [1] * clear + [0, 0]
    code_size = min_code_size + 1
    prev = -1
    out = np.empty(expected, dtype=np.uint8)
    filled = 0

    def expand(code: int) -> None:
        nonlocal filled
        n = lengths[code]
        if filled + n > expected:
            raise ValueError("LZW output exceeds frame size")
        i = filled + n
        c = code
        while c >= 0:
            i -= 1
            out[i] = tail[c]
            c = prefix[c]
        filled += n

    while filled < expected:
        if pos + code_size > nbits:
            raise ValueError("LZW stream truncated")
        byte = pos >> 3
        code = (
            int.from_bytes(data[byte : byte + 3], "little")
            >> (pos & 7)
        ) & ((1 << code_size) - 1)
        pos += code_size
        if code == clear:
            prefix = [-1] * (clear + 2)
            tail = list(range(clear)) + [0, 0]
            lengths = [1] * clear + [0, 0]
            code_size = min_code_size + 1
            prev = -1
            continue
        if code == end:
            break
        n_entries = len(prefix)
        if code < n_entries and lengths[code]:
            expand(code)
            if prev >= 0 and n_entries < 4096:
                prefix.append(prev)
                first = code
                while prefix[first] >= 0:
                    first = prefix[first]
                tail.append(tail[first])
                lengths.append(lengths[prev] + 1)
        elif code == n_entries and prev >= 0 and n_entries < 4096:
            # the KwKwK case: new entry = prev + first byte of prev
            first = prev
            while prefix[first] >= 0:
                first = prefix[first]
            prefix.append(prev)
            tail.append(tail[first])
            lengths.append(lengths[prev] + 1)
            expand(code)
        else:
            raise ValueError("corrupt LZW code")
        prev = code
        if len(prefix) >= (1 << code_size) and code_size < 12:
            code_size += 1
    if filled != expected:
        raise ValueError("LZW stream ended early")
    return out


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(idx: "np.ndarray", h: int, w: int) -> "np.ndarray":
    rows = idx.reshape(h, w)
    order = np.concatenate(
        [np.arange(start, h, step) for start, step in _INTERLACE_PASSES]
    )
    out = np.empty_like(rows)
    out[order] = rows
    return out


def gif_frames(blob: bytes, max_frames: int = MAX_FRAMES) -> "list[np.ndarray]":
    """Decode up to ``max_frames`` COMPOSED frames → list of uint8
    (H, W, 3) arrays at logical-screen size. Composition honors
    transparency and disposal 0-2 (3 ≈ draw-over, see module
    docstring)."""
    if not is_gif(blob):
        raise ValueError("not a GIF")
    if len(blob) < 13:
        raise ValueError("truncated GIF header")
    w, h, packed, bg, _aspect = struct.unpack("<HHBBB", blob[6:13])
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise ValueError("GIF dimensions out of range")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(blob, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n

    if gct is not None and bg < len(gct):
        canvas = np.tile(gct[bg], (h, w, 1)).astype(np.uint8)
    else:
        canvas = np.zeros((h, w, 3), np.uint8)
    frames: list[np.ndarray] = []
    transparent = None
    disposal = 0

    def sub_blocks(p: int) -> tuple[bytes, int]:
        parts = []
        while True:
            if p >= len(blob):
                raise ValueError("unterminated sub-blocks")
            n = blob[p]
            p += 1
            if n == 0:
                return b"".join(parts), p
            parts.append(blob[p : p + n])
            if len(parts[-1]) != n:
                raise ValueError("truncated sub-block")
            p += n

    while pos < len(blob) and len(frames) < max_frames:
        b = blob[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            if pos + 2 > len(blob):
                raise ValueError("truncated extension")
            label = blob[pos + 1]
            data, pos = sub_blocks(pos + 2)
            if label == 0xF9 and len(data) >= 4:  # graphic control
                flags = data[0]
                disposal = (flags >> 2) & 0x07
                transparent = data[3] if flags & 0x01 else None
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        if pos + 10 > len(blob):
            raise ValueError("truncated image descriptor")
        fx, fy, fw, fh, fpacked = struct.unpack("<HHHHB", blob[pos + 1 : pos + 10])
        pos += 10
        if fw <= 0 or fh <= 0 or fx + fw > w or fy + fh > h:
            raise ValueError("frame exceeds logical screen")
        if fpacked & 0x80:
            n = 2 << (fpacked & 0x07)
            ct = np.frombuffer(blob, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        else:
            ct = gct
        if ct is None:
            raise ValueError("frame without any color table")
        if pos >= len(blob):
            raise ValueError("truncated LZW header")
        min_code = blob[pos]
        data, pos = sub_blocks(pos + 1)
        idx = _lzw_decode(min_code, data, fw * fh)
        if fpacked & 0x40:
            idx = _deinterlace(idx, fh, fw)
        else:
            idx = idx.reshape(fh, fw)
        if int(idx.max()) >= len(ct):
            raise ValueError("palette index out of range")
        prev_region = canvas[fy : fy + fh, fx : fx + fw].copy()
        rgb = ct[idx]
        if transparent is not None:
            keep = idx == transparent
            rgb = np.where(keep[..., None], prev_region, rgb)
        canvas[fy : fy + fh, fx : fx + fw] = rgb
        frames.append(canvas.copy())
        if disposal == 2:  # restore to background color
            if gct is not None and bg < len(gct):
                canvas[fy : fy + fh, fx : fx + fw] = gct[bg]
            else:
                canvas[fy : fy + fh, fx : fx + fw] = 0
        # disposal 0/1 (and 3, approximated): leave the canvas as drawn
        transparent = None
        disposal = 0
    if not frames:
        raise ValueError("GIF contains no image data")
    return frames


def gif_meta(blob: bytes) -> "dict | None":
    """Cheap structural metadata — dimensions, frame count, total delay
    — by walking block framing WITHOUT LZW decode (a 3000-frame GIF
    costs a header skim, not 3000 decompressions). None if not a GIF;
    ValueError on corrupt framing, same contract as the decoders."""
    if not is_gif(blob):
        return None
    if len(blob) < 13:
        raise ValueError("truncated GIF header")
    w, h, packed, _bg, _aspect = struct.unpack("<HHBBB", blob[6:13])
    pos = 13
    if packed & 0x80:
        pos += 3 * (2 << (packed & 0x07))
    n_frames = 0
    delay_cs = 0  # centiseconds, from graphic-control extensions

    def skip_sub_blocks(p: int) -> int:
        while True:
            if p >= len(blob):
                raise ValueError("unterminated sub-blocks")
            n = blob[p]
            p += 1
            if n == 0:
                return p
            if p + n > len(blob):
                raise ValueError("truncated sub-block")
            p += n

    while pos < len(blob):
        b = blob[pos]
        if b == 0x3B:
            break
        if b == 0x21:
            if pos + 2 > len(blob):
                raise ValueError("truncated extension")
            label = blob[pos + 1]
            if label == 0xF9 and pos + 7 <= len(blob) and blob[pos + 2] >= 4:
                (d,) = struct.unpack("<H", blob[pos + 4 : pos + 6])
                delay_cs += d
            pos = skip_sub_blocks(pos + 2)
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        if pos + 10 > len(blob):
            raise ValueError("truncated image descriptor")
        fpacked = blob[pos + 9]
        pos += 10
        if fpacked & 0x80:
            pos += 3 * (2 << (fpacked & 0x07))
        if pos >= len(blob):
            raise ValueError("truncated LZW header")
        pos = skip_sub_blocks(pos + 1)
        n_frames += 1
    if n_frames == 0:
        raise ValueError("GIF contains no image data")
    return {
        "width": int(w), "height": int(h), "n_frames": n_frames,
        "duration_sec": round(delay_cs / 100.0, 6) if delay_cs else None,
    }


def parse_gif(blob: bytes) -> "np.ndarray | None":
    """First composed frame as uint8 (H, W, 3); None when not GIF by
    signature (stub-tier fallthrough); ValueError when corrupt."""
    if not is_gif(blob):
        return None
    try:
        return gif_frames(blob, max_frames=1)[0]
    except (struct.error, IndexError) as e:
        raise ValueError(f"malformed GIF structure: {e}") from e


def parse_gif_indexed(
    blob: bytes,
) -> "tuple[np.ndarray, np.ndarray, int | None] | None":
    """First frame as (palette (N,3), indices (H,W), transparent index)
    for palette-space operations (exact NN resize re-encoded against the
    SAME palette, transparency preserved). Only single-image GIFs whose
    frame covers the logical screen qualify; others return None and
    callers fall back to RGB handling."""
    if not is_gif(blob):
        return None
    try:
        w, h, packed, _bg, _aspect = struct.unpack("<HHBBB", blob[6:13])
        pos = 13
        gct = None
        transparent = None
        if packed & 0x80:
            n = 2 << (packed & 0x07)
            gct = np.frombuffer(blob, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        # walk extensions to the first image descriptor (reading any GCE)
        while pos < len(blob) and blob[pos] == 0x21:
            label = blob[pos + 1]
            pos += 2
            first_block = True
            while True:
                n = blob[pos]
                if (
                    label == 0xF9
                    and first_block
                    and n >= 4
                    and blob[pos + 1] & 0x01
                ):
                    transparent = blob[pos + 4]
                first_block = False
                pos += 1 + n
                if n == 0:
                    break
        if pos >= len(blob) or blob[pos] != 0x2C:
            return None
        fx, fy, fw, fh, fpacked = struct.unpack(
            "<HHHHB", blob[pos + 1 : pos + 10]
        )
        pos += 10
        if (fx, fy, fw, fh) != (0, 0, w, h) or fw * fh > MAX_PIXELS:
            return None
        if fpacked & 0x80:
            n = 2 << (fpacked & 0x07)
            ct = np.frombuffer(blob, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        else:
            ct = gct
        if ct is None:
            return None
        data_parts = []
        min_code = blob[pos]
        pos += 1
        while True:
            n = blob[pos]
            pos += 1
            if n == 0:
                break
            data_parts.append(blob[pos : pos + n])
            pos += n
        idx = _lzw_decode(min_code, b"".join(data_parts), fw * fh)
        if fpacked & 0x40:
            idx = _deinterlace(idx, fh, fw)
        else:
            idx = idx.reshape(fh, fw)
        if int(idx.max()) >= len(ct):
            return None
        return ct.copy(), idx, transparent
    except (struct.error, IndexError, ValueError):
        return None


# ---------------------------------------------------------------------------
# encoder (real variable-width LZW; one global palette)
# ---------------------------------------------------------------------------


def _lzw_encode(min_code_size: int, idx: "np.ndarray") -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    code_size = min_code_size + 1
    acc = 0
    nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    run = b""
    for v in idx.ravel().tolist():
        cand = run + bytes([v])
        if cand in table:
            run = cand
            continue
        emit(table[run])
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << code_size) and code_size < 12:
            code_size += 1
        if next_code > 4095:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            code_size = min_code_size + 1
        run = bytes([v])
    if run:
        emit(table[run])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(
    *,
    palette: "np.ndarray",
    indexed_frames: "list[np.ndarray]",
    delay_cs: int = 10,
    transparent: "int | None" = None,
) -> bytes:
    """GIF89a writer over one shared palette: ``palette`` (N≤256, 3)
    uint8 plus ``indexed_frames`` (each (H, W) uint8 of palette
    indices). One frame → plain GIF; several → animation (disposal 1,
    full-frame). ``transparent`` marks one palette index transparent via
    a graphic-control extension. Round-trips exactly through
    gif_frames/parse_gif because GIF is lossless over the palette."""
    if palette is None or not indexed_frames:
        raise ValueError("palette and at least one frame required")
    n = len(palette)
    if n < 2 or n > 256:
        raise ValueError("palette size must be in [2, 256]")
    ct_bits = max(1, (n - 1).bit_length())
    ct_n = 1 << ct_bits
    h, w = indexed_frames[0].shape
    pal = np.zeros((ct_n, 3), np.uint8)
    pal[:n] = palette
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | ((ct_bits - 1) & 0x07), 0, 0)
    out += pal.tobytes()
    if len(indexed_frames) > 1:
        # Netscape looping extension, then per-frame GCEs
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    min_code = max(2, ct_bits)
    for idx in indexed_frames:
        if idx.shape != (h, w):
            raise ValueError("all frames must share the logical screen size")
        if int(idx.max()) >= n:
            raise ValueError("frame index outside palette")
        if len(indexed_frames) > 1 or transparent is not None:
            flags = 0x04  # disposal 1 (draw over)
            tindex = 0
            if transparent is not None:
                flags |= 0x01
                tindex = int(transparent)
            out += b"\x21\xf9\x04" + struct.pack(
                "<BHB", flags, delay_cs, tindex
            ) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out += bytes([min_code])
        data = _lzw_encode(min_code, idx.astype(np.uint8))
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
