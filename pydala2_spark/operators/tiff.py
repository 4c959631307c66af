"""Baseline TIFF codec — dependency-free decoder + encoder.

Implements the public TIFF 6.0 specification's baseline subset:
both byte orders (II/MM), IFD tag walk, strip organization
(StripOffsets/StripByteCounts/RowsPerStrip), chunky planar config,
Compression 1 (none) and 32773 (PackBits RLE), PhotometricInterpretation
0 (WhiteIsZero, inverted at decode), 1 (BlackIsZero) and 2 (RGB),
8-bit samples at 1/3/4 samples per pixel plus 16-bit grayscale
(reduced to its most-significant byte, the same 16→8 rule as the PNG
decoder). Tiled TIFFs, LZW/JPEG-compressed TIFFs and planar config 2
return None — the caller reports null pixels plus a ``decode_error``.

Reference parity: legout/pydala2 has no media surface (SURVEY.md
§2.10) — beyond-reference multimodal extension; same plumbing
contract as `operators/multimodal.decode_image_pixels` (bytes in,
numpy or None out, never a raise).

Scale note: strip assembly is numpy concatenation; only PackBits runs
a per-byte Python loop. Arrow-batched inside mapInPandas like every
other media kernel; 16M-pixel + payload-amplification guards bound
per-row cost.
"""

from __future__ import annotations

_MAX_PIXELS = 16_000_000
_BOMB_RATIO = 2000

# tag ids (TIFF 6.0 §8)
_WIDTH, _HEIGHT = 256, 257
_BITS, _COMPRESSION, _PHOTO = 258, 259, 262
_STRIP_OFFSETS, _SAMPLES_PER_PX, _ROWS_PER_STRIP, _STRIP_COUNTS = 273, 277, 278, 279
_PLANAR = 284

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}


def _read_ifd(payload: bytes, ifd_offset: int | None = None):
    """First IFD (or the IFD at ``ifd_offset`` — e.g. an EXIF sub-IFD
    pointer) as {tag: [values]} plus the byte order, or None. Only
    integer-typed entries (BYTE/SHORT/LONG) are collected."""
    if payload[:4] == b"II*\x00":
        bo = "little"
    elif payload[:4] == b"MM\x00*":
        bo = "big"
    else:
        return None
    if len(payload) < 8:
        return None
    off = int.from_bytes(payload[4:8], bo) if ifd_offset is None else ifd_offset
    if off + 2 > len(payload):
        return None
    n = int.from_bytes(payload[off : off + 2], bo)
    if n == 0 or n > 512 or off + 2 + 12 * n > len(payload):
        return None
    tags: dict[int, list[int]] = {}
    for i in range(n):
        e = off + 2 + 12 * i
        tag = int.from_bytes(payload[e : e + 2], bo)
        typ = int.from_bytes(payload[e + 2 : e + 4], bo)
        count = int.from_bytes(payload[e + 4 : e + 8], bo)
        size = _TYPE_SIZES.get(typ)
        if size is None or count > 1_000_000:
            continue
        total = size * count
        if total <= 4:
            base = e + 8
        else:
            base = int.from_bytes(payload[e + 8 : e + 12], bo)
            if base + total > len(payload):
                continue
        if typ in (3, 4, 1):
            tags[tag] = [
                int.from_bytes(payload[base + j * size : base + (j + 1) * size], bo)
                for j in range(count)
            ]
    return tags, bo


def parse_tiff_header(payload: bytes) -> tuple[int, int, int] | None:
    """(width, height, channels) from the first IFD — the metadata
    surface for `parse_image_header`'s ladder."""
    r = _read_ifd(payload)
    if r is None:
        return None
    tags, _ = r
    w = tags.get(_WIDTH, [0])[0]
    h = tags.get(_HEIGHT, [0])[0]
    spp = tags.get(_SAMPLES_PER_PX, [1])[0]
    if not (0 < w < 2**31 and 0 < h < 2**31 and 0 < spp <= 8):
        return None
    return w, h, spp


def _unpackbits(data: bytes, expected: int):
    """PackBits RLE (TIFF 6.0 §9): the only per-byte Python loop in
    this codec. Bounded by ``expected`` output bytes."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < expected:
        c = data[i]
        i += 1
        if c == 128:  # noop
            continue
        if c < 128:  # literal run of c+1
            out += data[i : i + c + 1]
            i += c + 1
        else:  # repeat next byte 257-c times
            if i >= n:
                break
            out += bytes([data[i]]) * (257 - c)
            i += 1
    return bytes(out[:expected])


def decode_tiff_pixels(payload: bytes):
    """REAL baseline-TIFF pixel decode: ``(H, W, C) uint8`` or None
    (tiled / LZW / planar-separate / exotic depths)."""
    import numpy as np

    try:
        r = _read_ifd(payload)
        if r is None:
            return None
        tags, _ = r
        w = tags.get(_WIDTH, [0])[0]
        h = tags.get(_HEIGHT, [0])[0]
        spp = tags.get(_SAMPLES_PER_PX, [1])[0]
        comp = tags.get(_COMPRESSION, [1])[0]
        photo = tags.get(_PHOTO, [1])[0]
        bits = tags.get(_BITS, [8])
        planar = tags.get(_PLANAR, [1])[0]
        offsets = tags.get(_STRIP_OFFSETS)
        counts = tags.get(_STRIP_COUNTS)
        if not (0 < w < 2**31 and 0 < h < 2**31 and 0 < spp <= 4):
            return None
        if w * h > _MAX_PIXELS or w * h > _BOMB_RATIO * max(64, len(payload)):
            return None
        if comp not in (1, 32773) or planar != 1 or not offsets:
            return None
        if counts is None or len(counts) != len(offsets):
            # counts are mandatory for compressed data; for comp=1 the
            # strip length is derivable
            if comp != 1:
                return None
        sixteen = spp == 1 and bits == [16]
        if not sixteen and (len(bits) not in (1, spp) or any(b != 8 for b in bits)):
            return None
        bpp = spp * (2 if sixteen else 1)
        rows_per_strip = tags.get(_ROWS_PER_STRIP, [h])[0] or h
        rowbytes = w * bpp
        raw = bytearray()
        for si, off in enumerate(offsets):
            strip_rows = min(rows_per_strip, h - si * rows_per_strip)
            if strip_rows <= 0:
                break
            expected = strip_rows * rowbytes
            if counts is not None and si < len(counts):
                clen = counts[si]
            else:
                clen = expected
            chunk = payload[off : off + clen]
            if comp == 32773:
                raw += _unpackbits(chunk, expected)
            else:
                raw += chunk[:expected]
        if len(raw) < h * rowbytes:
            return None  # truncated strips: no fabricated pixels
        arr = np.frombuffer(bytes(raw), np.uint8, h * rowbytes).reshape(h, w, bpp)
        if sixteen:
            # big-endian MM stores MSB first; little-endian II LSB
            # first — take the most-significant byte either way
            msb = 0 if payload[:2] == b"MM" else 1
            arr = arr[:, :, msb : msb + 1]
        if photo == 0:  # WhiteIsZero: invert to the BlackIsZero truth
            arr = 255 - arr
        elif photo != 1 and photo != 2:
            return None
        return np.ascontiguousarray(arr)
    except (IndexError, ValueError, OverflowError):
        return None


def encode_tiff(arr, *, packbits: bool = False, byte_order: str = "little") -> bytes:
    """Minimal valid baseline TIFF: one IFD, single strip (PackBits
    optional), chunky 8-bit samples. The round-trip pin for
    :func:`decode_tiff_pixels`."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 3, 4):
        raise ValueError(f"encode_tiff wants (H, W, 1|3|4) uint8, got {a.shape}")
    h, w, spp = a.shape
    pix = a.tobytes()
    if packbits:
        out = bytearray()
        i = 0
        n = len(pix)
        while i < n:
            # find a run of >= 3 equal bytes, else emit literals
            j = i
            while j < n - 1 and j - i < 127 and pix[j] == pix[j + 1]:
                j += 1
            run = j - i + 1
            if run >= 3:
                out += bytes([257 - run, pix[i]])
                i += run
                continue
            j = i
            while (
                j < n
                and j - i < 127
                and not (j + 2 < n and pix[j] == pix[j + 1] == pix[j + 2])
            ):
                j += 1
            out += bytes([j - i - 1]) + pix[i:j]
            i = j
        pix = bytes(out)
    bo = byte_order
    head = b"II*\x00" if bo == "little" else b"MM\x00*"

    def u16(v):
        return v.to_bytes(2, bo)

    def u32(v):
        return v.to_bytes(4, bo)

    def entry(tag, typ, count, value):
        return u16(tag) + u16(typ) + u32(count) + value

    entries = []
    photo = 1 if spp == 1 else 2
    # IFD right after the 8-byte header; BitsPerSample array (spp > 2
    # needs an external offset) then strip data follow it
    n_entries = 9
    ifd_off = 8
    ifd_size = 2 + n_entries * 12 + 4
    bits_off = ifd_off + ifd_size
    bits_external = spp > 2
    data_off = bits_off + (2 * spp if bits_external else 0)
    if bits_external:
        bits_val = u32(bits_off)
    else:
        bits_val = u16(8) * spp + b"\x00\x00" * (2 - spp)
    entries.append(entry(_WIDTH, 4, 1, u32(w)))
    entries.append(entry(_HEIGHT, 4, 1, u32(h)))
    entries.append(entry(_BITS, 3, spp, bits_val))
    entries.append(entry(_COMPRESSION, 3, 1, u16(32773 if packbits else 1) + b"\x00\x00"))
    entries.append(entry(_PHOTO, 3, 1, u16(photo) + b"\x00\x00"))
    entries.append(entry(_STRIP_OFFSETS, 4, 1, u32(data_off)))
    entries.append(entry(_SAMPLES_PER_PX, 3, 1, u16(spp) + b"\x00\x00"))
    entries.append(entry(_ROWS_PER_STRIP, 4, 1, u32(h)))
    entries.append(entry(_STRIP_COUNTS, 4, 1, u32(len(pix))))
    ifd = u16(n_entries) + b"".join(entries) + u32(0)
    out = head + u32(ifd_off) + ifd
    if bits_external:
        out += u16(8) * spp
    assert len(out) == data_off, (len(out), data_off)
    return out + pix
