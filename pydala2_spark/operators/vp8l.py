"""WebP-lossless (VP8L) codec — dependency-free decoder + encoder.

Implements the public *WebP Lossless Bitstream Specification*
(https://developers.google.com/speed/webp/docs/webp_lossless_bitstream_specification):
LSB-first bit stream, canonical prefix codes (simple and
code-length-coded forms), LZ77 backward references with the 120-entry
2-D distance mapping, the color cache, meta prefix (entropy) images,
and all four transforms — predictor (14 modes), cross-color,
subtract-green, and color-indexing with sub-byte pixel bundling.

The encoder is correctness-focused (like `operators/jpeg.encode_jpeg`):
it emits valid streams exercising every decoder path — per-option
transforms, color cache, distance-mapped LZ77 runs, simple and full
prefix-code forms — and round-trips bit-exactly, which is what the
property tests pin. Compression uses balanced complete prefix codes
(depth ≤ 9, always inside the spec's 15-bit limit) rather than true
Huffman.

Reference parity: legout/pydala2 has no media surface (SURVEY.md
§2.10) — this module is part of the beyond-reference multimodal
extension; the plumbing contract (binary column in, numpy out, None
for undecodable payloads, reported as null plus ``decode_error``) matches
`operators/multimodal.decode_image_pixels`.

Scale note: pure-Python per-pixel work, same tier as the PNG/GIF/JPEG
kernels — Arrow-batched inside ``mapInPandas``, never on the driver;
the 16M-pixel and payload-amplification guards bound per-row cost.
"""

from __future__ import annotations


class _Bad(Exception):
    """Malformed stream — callers translate to None (honest ladder)."""


# --------------------------------------------------------------------
# Bit I/O. VP8L reads bits LSB-first within each byte; prefix codes are
# canonical (deflate-style) with each code's bits appearing in the
# stream root-first (i.e. the code's MSB is the first bit read).
# --------------------------------------------------------------------


class _BitReader:
    __slots__ = ("data", "pos", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.n = len(data) * 8

    def read(self, k: int) -> int:
        p = self.pos
        if p + k > self.n:
            raise _Bad("truncated")
        if k == 0:
            return 0
        byte = p >> 3
        nbytes = (k + (p & 7) + 7) >> 3
        acc = int.from_bytes(self.data[byte : byte + nbytes], "little")
        self.pos = p + k
        return (acc >> (p & 7)) & ((1 << k) - 1)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, k: int) -> None:
        """k bits of value, LSB-first into the stream."""
        self.acc |= (value & ((1 << k) - 1)) << self.nbits
        self.nbits += k
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, length: int) -> None:
        """A prefix code: bits emitted root-first (code MSB first)."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def getvalue(self) -> bytes:
        out = bytes(self.buf)
        if self.nbits:
            out += bytes([self.acc & 0xFF])
        return out


# --------------------------------------------------------------------
# Prefix codes.
# --------------------------------------------------------------------

# order in which code-length-code lengths are transmitted (spec §5.2.2)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)


def _canonical_codes(lengths):
    """Deflate-style canonical code assignment from code lengths:
    shorter codes first, ties broken by symbol order. Returns
    {symbol: (length, code)}; validates the code is complete (Kraft
    sum exactly 1) unless only one symbol is used (0-bit code)."""
    nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
    if not nz:
        raise _Bad("empty code")
    if len(nz) == 1:
        return {nz[0][1]: (0, 0)}
    maxlen = max(l for l, _ in nz)
    if maxlen > 15:
        raise _Bad("code length > 15")
    kraft = sum(1 << (maxlen - l) for l, _ in nz)
    if kraft != (1 << maxlen):
        raise _Bad("incomplete or oversubscribed code")
    nz.sort()
    codes = {}
    code = 0
    prev_len = nz[0][0]
    for l, s in nz:
        code <<= l - prev_len
        prev_len = l
        codes[s] = (l, code)
        code += 1
    return codes


class _Prefix:
    """Decoder-side prefix code: bit-at-a-time tree walk via a
    (length, code) dict — O(bits) per symbol, plenty for the
    pure-Python tier this codec lives in."""

    __slots__ = ("table", "maxlen", "trivial")

    def __init__(self, lengths=None, explicit=None):
        if explicit is not None:
            # simple-form codes assign by transmission order, not
            # canonically: first symbol <-> code 0
            if len(explicit) == 1:  # one symbol: 0-bit code
                self.trivial = explicit[0][0]
                self.table = {}
                self.maxlen = 0
                return
            self.trivial = None
            self.table = {(l, c): s for s, l, c in explicit}
            self.maxlen = max(l for _, l, _ in explicit)
            return
        codes = _canonical_codes(lengths)
        if len(codes) == 1:
            self.trivial = next(iter(codes))
            self.table = {}
            self.maxlen = 0
            return
        self.trivial = None
        self.table = {(l, c): s for s, (l, c) in codes.items()}
        self.maxlen = max(l for l, _ in codes.values())

    def read(self, br: _BitReader) -> int:
        if self.trivial is not None:
            return self.trivial
        # inlined single-bit extraction: one method call per SYMBOL
        # instead of one per bit (the decode hot path — ~40% of
        # decode time went to _BitReader.read call overhead)
        data = br.data
        pos = br.pos
        n = br.n
        code = 0
        length = 0
        table = self.table
        maxlen = self.maxlen
        while length < maxlen:
            if pos >= n:
                raise _Bad("truncated")
            code = (code << 1) | ((data[pos >> 3] >> (pos & 7)) & 1)
            pos += 1
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                br.pos = pos
                return sym
        raise _Bad("bad prefix code")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _Prefix:
    """One prefix code, simple or full form (spec §5.2.1 / §5.2.2)."""
    if br.read(1):  # simple code: 1 or 2 symbols
        num_symbols = br.read(1) + 1
        first_8bits = br.read(1)
        s0 = br.read(8 if first_8bits else 1)
        if num_symbols == 1:
            if s0 >= alphabet_size:
                raise _Bad("symbol out of alphabet")
            return _Prefix(explicit=[(s0, 0, 0)])
        s1 = br.read(8)
        if s0 == s1 or s0 >= alphabet_size or s1 >= alphabet_size:
            raise _Bad("bad simple code")
        return _Prefix(explicit=[(s0, 1, 0), (s1, 1, 1)])
    # full form: code lengths are themselves prefix-coded
    num_clc = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_clc):
        cl_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _Prefix(cl_lengths)
    if br.read(1):  # explicit symbol-count cap
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    sym = 0
    prev_len = 8  # spec default when a repeat precedes any literal
    while sym < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        cl = clc.read(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev_len = cl
        else:
            if cl == 16:
                repeat, val = 3 + br.read(2), prev_len
            elif cl == 17:
                repeat, val = 3 + br.read(3), 0
            else:
                repeat, val = 11 + br.read(7), 0
            if sym + repeat > alphabet_size:
                raise _Bad("code-length repeat overflow")
            for _ in range(repeat):
                lengths[sym] = val
                sym += 1
    return _Prefix(lengths)


# --------------------------------------------------------------------
# LZ77 value coding (shared by lengths and distance codes, spec §4.2):
# prefix symbol + extra bits -> value in [1, 4096].
# --------------------------------------------------------------------


def _lz77_value(sym: int, br: _BitReader) -> int:
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


def _lz77_symbol(value: int):
    """Inverse of :func:`_lz77_value`: (symbol, extra_value, extra_bits)."""
    if value <= 4:
        return value - 1, 0, 0
    for sym in range(4, 40):
        extra = (sym - 2) >> 1
        offset = (2 + (sym & 1)) << extra
        if offset + 1 <= value <= offset + (1 << extra):
            return sym, value - offset - 1, extra
    raise ValueError(f"lz77 value out of range: {value}")


# 2-D distance mapping for distance codes 1..120 (spec §4.2.2): code i
# maps to pixel offset (dx, dy); dist = dx + dy * xsize, floored at 1.
# Codes > 120 are plain distances (code - 120).
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


def _map_distance(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    dist = dx + dy * xsize
    return dist if dist >= 1 else 1


# --------------------------------------------------------------------
# Image-stream decode (spec §5.2.3): used for the main image AND for
# the sub-images (entropy image, transform data, palette).
# --------------------------------------------------------------------

_HASH_MUL = 0x1E35A7BD


def _div_ceil(a: int, b: int) -> int:
    return -(-a // b)


def _decode_entropy_coded(br: _BitReader, xsize: int, ysize: int, level0: bool):
    """Color-cache info + prefix codes (+ meta prefix image at level 0)
    + LZ77/cache pixel loop. Returns a flat list of ARGB ints."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise _Bad("bad color-cache bits")
    meta = None
    groups = 1
    if level0 and br.read(1):
        hbits = br.read(3) + 2
        mw = _div_ceil(xsize, 1 << hbits)
        mh = _div_ceil(ysize, 1 << hbits)
        meta_img = _decode_image_stream(br, mw, mh, level0=False)
        meta = (hbits, mw, meta_img)
        groups = max(((p >> 8) & 0xFFFF) for p in meta_img) + 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    codes = []
    for _ in range(groups):
        green = _read_prefix_code(br, 256 + 24 + cache_size)
        red = _read_prefix_code(br, 256)
        blue = _read_prefix_code(br, 256)
        alpha = _read_prefix_code(br, 256)
        dist = _read_prefix_code(br, 40)
        codes.append((green, red, blue, alpha, dist))
    npix = xsize * ysize
    pix = [0] * npix
    cache = [0] * cache_size if cache_size else None
    shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    group = codes[0]
    while pos < npix:
        if meta is not None:
            hbits, mw, meta_img = meta
            x = pos % xsize
            y = pos // xsize
            group = codes[(meta_img[(y >> hbits) * mw + (x >> hbits)] >> 8) & 0xFFFF]
        g_code, r_code, b_code, a_code, d_code = group
        s = g_code.read(br)
        if s < 256:  # literal ARGB pixel
            r = r_code.read(br)
            b = b_code.read(br)
            a = a_code.read(br)
            v = (a << 24) | (r << 16) | (s << 8) | b
            pix[pos] = v
            pos += 1
            if cache is not None:
                cache[((_HASH_MUL * v) & 0xFFFFFFFF) >> shift] = v
        elif s < 280:  # LZ77 backward reference
            length = _lz77_value(s - 256, br)
            dist_code = _lz77_value(d_code.read(br), br)
            dist = _map_distance(dist_code, xsize)
            if dist > pos:
                raise _Bad("backward reference before stream start")
            if pos + length > npix:
                raise _Bad("backward reference past image end")
            for _ in range(length):
                v = pix[pos - dist]
                pix[pos] = v
                pos += 1
                if cache is not None:
                    cache[((_HASH_MUL * v) & 0xFFFFFFFF) >> shift] = v
        else:  # color-cache hit
            if cache is None:
                raise _Bad("cache symbol without cache")
            pix[pos] = cache[s - 280]
            pos += 1
    return pix


def _decode_image_stream(br: _BitReader, xsize: int, ysize: int, level0: bool):
    """Sub-image streams never carry transforms or a meta prefix."""
    return _decode_entropy_coded(br, xsize, ysize, level0)


# --------------------------------------------------------------------
# Inverse transforms (spec §3). Each records the xsize current when it
# was READ; inverses run in reverse read order.
# --------------------------------------------------------------------


def _avg2(p: int, q: int) -> int:
    return (
        ((((p >> 24) & 255) + ((q >> 24) & 255)) >> 1) << 24
        | ((((p >> 16) & 255) + ((q >> 16) & 255)) >> 1) << 16
        | ((((p >> 8) & 255) + ((q >> 8) & 255)) >> 1) << 8
        | ((((p) & 255) + ((q) & 255)) >> 1)
    )


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        c = _clamp(((l >> sh) & 255) + ((t >> sh) & 255) - ((tl >> sh) & 255))
        out |= c << sh
    return out


def _clamp_add_sub_half(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        a = (((l >> sh) & 255) + ((t >> sh) & 255)) >> 1
        b = (tl >> sh) & 255
        d = a - b
        # C-style truncation toward zero (the spec's `/ 2`)
        half = d // 2 if d >= 0 else -((-d) // 2)
        out |= _clamp(a + half) << sh
    return out


def _select(t: int, l: int, tl: int) -> int:
    s = 0
    for sh in (24, 16, 8, 0):
        tc = (t >> sh) & 255
        lc = (l >> sh) & 255
        tlc = (tl >> sh) & 255
        s += abs(lc - tlc) - abs(tc - tlc)
    return t if s <= 0 else l


def _add_pixels(p: int, q: int) -> int:
    return (
        ((((p >> 24) & 255) + ((q >> 24) & 255)) & 255) << 24
        | ((((p >> 16) & 255) + ((q >> 16) & 255)) & 255) << 16
        | ((((p >> 8) & 255) + ((q >> 8) & 255)) & 255) << 8
        | ((((p) & 255) + ((q) & 255)) & 255)
    )


def _predict(mode: int, l: int, t: int, tr: int, tl: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(t, l, tl)
    if mode == 12:
        return _clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _clamp_add_sub_half(l, t, tl)
    raise _Bad("bad predictor mode")


def _inv_predictor(pix, xsize: int, ysize: int, size_bits: int, modes, mw: int):
    for pos in range(xsize * ysize):
        x = pos % xsize
        y = pos // xsize
        if x == 0 and y == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = pix[pos - 1]  # top row: always L
        elif x == 0:
            pred = pix[pos - xsize]  # left column: always T
        else:
            mode = (modes[(y >> size_bits) * mw + (x >> size_bits)] >> 8) & 0xFF
            l = pix[pos - 1]
            t = pix[pos - xsize]
            # TR at x == xsize-1 wraps to the current row's first pixel
            # (the spec's contiguous-memory addressing, already decoded)
            tr = pix[pos - xsize + 1]
            tl = pix[pos - xsize - 1]
            pred = _predict(mode, l, t, tr, tl)
        pix[pos] = _add_pixels(pix[pos], pred)


def _to_int8(v: int) -> int:
    v &= 0xFF
    return v - 256 if v > 127 else v


def _cdelta(t: int, c: int) -> int:
    # (int8)t * (int8)c >> 5, arithmetic shift — Python's floor >> on
    # the signed product matches C's arithmetic shift exactly
    return (_to_int8(t) * _to_int8(c)) >> 5


def _inv_color_transform(pix, xsize: int, ysize: int, size_bits: int, cte, mw: int):
    for pos in range(xsize * ysize):
        x = pos % xsize
        y = pos // xsize
        m = cte[(y >> size_bits) * mw + (x >> size_bits)]
        g2r = m & 0xFF          # blue channel of the transform pixel
        g2b = (m >> 8) & 0xFF   # green channel
        r2b = (m >> 16) & 0xFF  # red channel
        v = pix[pos]
        green = (v >> 8) & 0xFF
        red = ((v >> 16) & 0xFF) + _cdelta(g2r, green)
        red &= 0xFF
        blue = (v & 0xFF) + _cdelta(g2b, green)
        blue += _cdelta(r2b, red)
        blue &= 0xFF
        pix[pos] = (v & 0xFF00FF00) | (red << 16) | blue


def _inv_subtract_green(pix):
    for i, v in enumerate(pix):
        g = (v >> 8) & 0xFF
        r = (((v >> 16) & 0xFF) + g) & 0xFF
        b = ((v & 0xFF) + g) & 0xFF
        pix[i] = (v & 0xFF00FF00) | (r << 16) | b


def _inv_color_indexing(pix, packed_xsize: int, ysize: int, width_bits: int,
                        palette, full_xsize: int):
    ppb = 1 << width_bits  # pixels per packed green byte
    ib = 8 >> width_bits   # index bit width
    mask = (1 << ib) - 1
    n = len(palette)
    out = [0] * (full_xsize * ysize)
    for y in range(ysize):
        row = y * packed_xsize
        orow = y * full_xsize
        for x in range(full_xsize):
            packed = (pix[row + (x >> width_bits)] >> 8) & 0xFF
            idx = (packed >> ((x & (ppb - 1)) * ib)) & mask
            if idx >= n:
                raise _Bad("palette index out of range")
            out[orow + x] = palette[idx]
    return out


# --------------------------------------------------------------------
# Public decode.
# --------------------------------------------------------------------

_MAX_PIXELS = 16_000_000  # pure-Python pixel loop: same cap as jpeg.py
_BOMB_RATIO = 2000  # declared pixels per payload byte (amplification cap)


def _find_vp8l_chunk(payload: bytes):
    """RIFF walk: the VP8L chunk body, also inside VP8X containers."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        return None
    i = 12
    while i + 8 <= len(payload):
        fourcc = payload[i : i + 4]
        size = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + size]
        if fourcc == b"VP8L":
            return body if len(body) == size else None
        i += 8 + size + (size & 1)  # chunks pad to even offsets
    return None


def decode_webp_pixels(payload: bytes, max_pixels: int = _MAX_PIXELS):
    """REAL WebP-lossless pixel decode: ``(H, W, 3|4) uint8`` numpy
    array, or None for lossy VP8 / malformed / bomb payloads (the
    caller reports null plus ``decode_error``). Channel count follows the
    stream's alpha flag, mirroring the PNG decoder's convention of
    reporting the container's declared truth."""
    import numpy as np

    try:
        data = _find_vp8l_chunk(payload)
        if data is None or len(data) < 5 or data[0] != 0x2F:
            return None
        br = _BitReader(data)
        br.pos = 8  # signature byte
        w = br.read(14) + 1
        h = br.read(14) + 1
        alpha_used = br.read(1)
        if br.read(3) != 0:  # version must be 0
            return None
        if w * h > max_pixels or w * h > _BOMB_RATIO * max(64, len(payload)):
            return None
        # level-0 transforms (each at most once)
        transforms = []
        seen = set()
        xsize = w
        while br.read(1):
            t = br.read(2)
            if t in seen:
                raise _Bad("duplicate transform")
            seen.add(t)
            if t == 2:  # subtract green
                transforms.append(("subgreen",))
            elif t in (0, 1):  # predictor / cross-color
                size_bits = br.read(3) + 2
                mw = _div_ceil(xsize, 1 << size_bits)
                mh = _div_ceil(h, 1 << size_bits)
                sub = _decode_image_stream(br, mw, mh, level0=False)
                kind = "pred" if t == 0 else "color"
                transforms.append((kind, size_bits, sub, mw, xsize))
            elif t == 3:  # color indexing
                n = br.read(8) + 1
                raw = _decode_image_stream(br, n, 1, level0=False)
                palette = list(raw)
                for i in range(1, n):  # entries are component deltas
                    palette[i] = _add_pixels(palette[i], palette[i - 1])
                width_bits = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
                full = xsize
                xsize = _div_ceil(xsize, 1 << width_bits)
                transforms.append(("palette", width_bits, palette, full))
        pix = _decode_entropy_coded(br, xsize, h, level0=True)
        for tf in reversed(transforms):
            if tf[0] == "subgreen":
                _inv_subtract_green(pix)
            elif tf[0] == "pred":
                _, size_bits, sub, mw, tw = tf
                _inv_predictor(pix, tw, h, size_bits, sub, mw)
            elif tf[0] == "color":
                _, size_bits, sub, mw, tw = tf
                _inv_color_transform(pix, tw, h, size_bits, sub, mw)
            else:
                _, width_bits, palette, full = tf
                pix = _inv_color_indexing(pix, xsize, h, width_bits, palette, full)
                xsize = full
        if xsize != w:
            raise _Bad("transform width mismatch")
        a = np.array(pix, dtype=np.uint32).reshape(h, w)
        rgba = np.empty((h, w, 4), np.uint8)
        rgba[:, :, 0] = (a >> 16) & 0xFF
        rgba[:, :, 1] = (a >> 8) & 0xFF
        rgba[:, :, 2] = a & 0xFF
        rgba[:, :, 3] = (a >> 24) & 0xFF
        return rgba if alpha_used else np.ascontiguousarray(rgba[:, :, :3])
    except (_Bad, IndexError, ValueError, OverflowError):
        return None


# --------------------------------------------------------------------
# Encoder.
# --------------------------------------------------------------------


def _balanced_lengths(freqs: dict[int, int]) -> dict[int, int]:
    """Complete prefix-code lengths for the used symbols: with n
    symbols and k = ceil(log2 n), the 2^k - n most frequent get length
    k-1 and the rest k (Kraft sum exactly 1, depth ≤ 9 for alphabets
    ≤ 280 — always inside the 15-bit limit)."""
    syms = sorted(freqs, key=lambda s: (-freqs[s], s))
    n = len(syms)
    if n == 1:
        return {syms[0]: 1}
    k = max(1, (n - 1).bit_length())
    short = (1 << k) - n
    return {s: (k - 1 if i < short else k) for i, s in enumerate(syms)}


def _write_prefix_code(bw: _BitWriter, freqs: dict[int, int], alphabet_size: int):
    """Emit a prefix code for the used symbols; returns {sym: (len,
    code)} for the data pass. Simple form when it fits, else the full
    code-length-coded form with 17/18 zero-run tokens."""
    used = sorted(s for s, f in freqs.items() if f > 0)
    if not used:
        used = [0]  # a code must exist even if never read
    if len(used) == 1 and used[0] <= 255:
        s0 = used[0]
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # num_symbols - 1
        if s0 <= 1:
            bw.write(0, 1)  # 1-bit first symbol
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        return {s0: (0, 0)}
    if len(used) == 2 and used[1] <= 255:
        s0, s1 = used
        bw.write(1, 1)
        bw.write(1, 1)  # two symbols
        if s0 <= 1:
            bw.write(0, 1)
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        bw.write(s1, 8)
        return {s0: (1, 0), s1: (1, 1)}
    # full form
    lengths_by_sym = _balanced_lengths({s: freqs[s] for s in used})
    lengths = [lengths_by_sym.get(s, 0) for s in range(alphabet_size)]
    # tokenize: literals + 17/18 zero runs
    tokens = []  # (token, extra_value, extra_bits)
    i = 0
    while i < alphabet_size:
        if lengths[i] == 0:
            j = i
            while j < alphabet_size and lengths[j] == 0:
                j += 1
            run = j - i
            while run >= 11:
                chunk = min(run, 138)
                tokens.append((18, chunk - 11, 7))
                run -= chunk
            while run >= 3:
                chunk = min(run, 10)
                tokens.append((17, chunk - 3, 3))
                run -= chunk
            for _ in range(run):
                tokens.append((0, 0, 0))
            i = j
        else:
            tokens.append((lengths[i], 0, 0))
            i += 1
    cl_freqs: dict[int, int] = {}
    for t, _, _ in tokens:
        cl_freqs[t] = cl_freqs.get(t, 0) + 1
    cl_lengths_by_sym = _balanced_lengths(cl_freqs)
    if len(cl_lengths_by_sym) == 1:
        # decoder treats a single nonzero length as a 0-bit code
        cl_codes = {next(iter(cl_lengths_by_sym)): (0, 0)}
        cl_lengths = [0] * 19
        cl_lengths[next(iter(cl_lengths_by_sym))] = 1
    else:
        cl_lengths = [0] * 19
        for s, l in cl_lengths_by_sym.items():
            cl_lengths[s] = l
        cl_codes = _canonical_codes(cl_lengths)
    bw.write(0, 1)  # not simple
    num_clc = 19
    while num_clc > 4 and cl_lengths[_CLC_ORDER[num_clc - 1]] == 0:
        num_clc -= 1
    bw.write(num_clc - 4, 4)
    for i in range(num_clc):
        bw.write(cl_lengths[_CLC_ORDER[i]], 3)
    bw.write(0, 1)  # no explicit max-symbol cap
    for t, ev, eb in tokens:
        l, c = cl_codes[t]
        bw.write_code(c, l)
        if eb:
            bw.write(ev, eb)
    return _canonical_codes(lengths)


def _emit_entropy_coded(bw: _BitWriter, symbols, alphabet_sizes):
    """Write color-cache info is handled by the caller; here: the five
    prefix codes + the symbol stream. ``symbols`` is a list of ops:
    ('lit', g, r, b, a) | ('copy', len_sym, len_ev, len_eb, d_sym,
    d_ev, d_eb) | ('cache', idx)."""
    freqs = [dict() for _ in range(5)]  # green, red, blue, alpha, dist

    def bump(i, s):
        freqs[i][s] = freqs[i].get(s, 0) + 1

    for op in symbols:
        if op[0] == "lit":
            _, g, r, b, a = op
            bump(0, g)
            bump(1, r)
            bump(2, b)
            bump(3, a)
        elif op[0] == "copy":
            _, ls, _, _, ds, _, _ = op
            bump(0, 256 + ls)
            bump(4, ds)
        else:
            bump(0, 280 + op[1])
    codes = [
        _write_prefix_code(bw, freqs[i], alphabet_sizes[i]) for i in range(5)
    ]
    for op in symbols:
        if op[0] == "lit":
            _, g, r, b, a = op
            for i, s in ((0, g), (1, r), (2, b), (3, a)):
                l, c = codes[i][s]
                bw.write_code(c, l)
        elif op[0] == "copy":
            _, ls, lev, leb, ds, dev, deb = op
            l, c = codes[0][256 + ls]
            bw.write_code(c, l)
            if leb:
                bw.write(lev, leb)
            l, c = codes[4][ds]
            bw.write_code(c, l)
            if deb:
                bw.write(dev, deb)
        else:
            l, c = codes[0][280 + op[1]]
            bw.write_code(c, l)


def _pixels_to_ops(pix, cache_bits: int, use_lz77: bool, xsize: int):
    """ARGB ints -> symbol ops, mirroring the decoder's cache/LZ77
    state machine exactly (every emitted pixel inserts into the
    cache, runs encode distance 1 through map code 2)."""
    cache = [None] * (1 << cache_bits) if cache_bits else None
    shift = 32 - cache_bits if cache_bits else 0
    ops = []
    n = len(pix)
    i = 0
    while i < n:
        v = pix[i]
        if use_lz77 and i > 0 and v == pix[i - 1]:
            run = 0
            while i + run < n and pix[i + run] == pix[i - 1] and run < 4096:
                run += 1
            if run >= 3:
                ls, lev, leb = _lz77_symbol(run)
                # distance 1 -> 2-D map code 2 (entry (1, 0))
                ds, dev, deb = _lz77_symbol(2)
                ops.append(("copy", ls, lev, leb, ds, dev, deb))
                if cache is not None:
                    slot = ((_HASH_MUL * v) & 0xFFFFFFFF) >> shift
                    cache[slot] = v
                i += run
                continue
        if cache is not None:
            slot = ((_HASH_MUL * v) & 0xFFFFFFFF) >> shift
            if cache[slot] == v:
                ops.append(("cache", slot))
                i += 1
                continue
            cache[slot] = v
        ops.append(("lit", (v >> 8) & 255, (v >> 16) & 255, v & 255, (v >> 24) & 255))
        i += 1
    return ops


def _encode_sub_image(bw: _BitWriter, pix, xsize: int, ysize: int):
    """Transform / palette sub-image stream: no cache, no meta bit."""
    bw.write(0, 1)  # no color cache
    ops = _pixels_to_ops(pix, 0, False, xsize)
    _emit_entropy_coded(bw, ops, (280, 256, 256, 256, 40))


def encode_webp_lossless(
    arr,
    *,
    use_subtract_green: bool = False,
    predictor_mode: int | None = None,
    use_palette: bool = False,
    cache_bits: int = 0,
    use_lz77: bool = False,
    meta_bits: int | None = None,
) -> bytes:
    """Encode ``(H, W, 1|3|4) uint8`` as a WebP-lossless (VP8L) file.
    The knobs exist to exercise every decoder path in round-trip
    tests: subtract-green and uniform-mode predictor transforms,
    color-indexing (with sub-byte bundling when the palette is small),
    a color cache, distance-mapped LZ77 run copies, and — via
    ``meta_bits`` — a meta prefix (entropy) image that checkerboards
    the blocks across two independent code groups (literals only, so
    the per-pixel group switch is what the round-trip pins)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 3, 4):
        raise ValueError(f"encode_webp_lossless wants (H, W, 1|3|4), got {a.shape}")
    if a.shape[2] == 1:
        a = np.repeat(a, 3, axis=2)
    h, w, nch = a.shape
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise ValueError("VP8L dimensions are 14-bit (1..16384)")
    alpha_used = 1 if nch == 4 else 0
    r = a[:, :, 0].astype(np.uint32)
    g = a[:, :, 1].astype(np.uint32)
    b = a[:, :, 2].astype(np.uint32)
    al = a[:, :, 3].astype(np.uint32) if nch == 4 else np.full((h, w), 255, np.uint32)
    argb = ((al << 24) | (r << 16) | (g << 8) | b).reshape(-1)
    pix = [int(v) for v in argb]

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(alpha_used, 1)
    bw.write(0, 3)  # version

    xsize = w
    if use_palette:
        colors = sorted(set(pix))
        if len(colors) > 256:
            raise ValueError("use_palette needs <= 256 distinct colors")
        n = len(colors)
        index = {c: i for i, c in enumerate(colors)}
        width_bits = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
        bw.write(1, 1)  # transform present
        bw.write(3, 2)  # color indexing
        bw.write(n - 1, 8)
        deltas = [colors[0]]
        for i in range(1, n):
            deltas.append(
                (
                    (((colors[i] >> 24) - (colors[i - 1] >> 24)) & 255) << 24
                    | (((colors[i] >> 16) - (colors[i - 1] >> 16)) & 255) << 16
                    | (((colors[i] >> 8) - (colors[i - 1] >> 8)) & 255) << 8
                    | ((colors[i] - colors[i - 1]) & 255)
                )
            )
        _encode_sub_image(bw, deltas, n, 1)
        ppb = 1 << width_bits
        ib = 8 >> width_bits
        packed_w = _div_ceil(w, ppb)
        packed = [0xFF000000] * (packed_w * h)
        for y in range(h):
            for x in range(w):
                idx = index[pix[y * w + x]]
                pos = y * packed_w + (x >> width_bits)
                packed[pos] |= idx << (8 + (x & (ppb - 1)) * ib)
        pix = packed
        xsize = packed_w

    if use_subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # subtract green: no payload
        for i, v in enumerate(pix):
            gg = (v >> 8) & 255
            rr = (((v >> 16) & 255) - gg) & 255
            bb = ((v & 255) - gg) & 255
            pix[i] = (v & 0xFF00FF00) | (rr << 16) | bb

    if predictor_mode is not None:
        if not 0 <= predictor_mode <= 13:
            raise ValueError("predictor mode in 0..13")
        size_bits = 4
        mw = _div_ceil(xsize, 1 << size_bits)
        mh = _div_ceil(h, 1 << size_bits)
        bw.write(1, 1)
        bw.write(0, 2)  # predictor
        bw.write(size_bits - 2, 3)
        _encode_sub_image(
            bw, [0xFF000000 | (predictor_mode << 8)] * (mw * mh), mw, mh
        )
        res = list(pix)
        for pos in range(xsize * h):
            x = pos % xsize
            y = pos // xsize
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pix[pos - 1]
            elif x == 0:
                pred = pix[pos - xsize]
            else:
                pred = _predict(
                    predictor_mode,
                    pix[pos - 1],
                    pix[pos - xsize],
                    pix[pos - xsize + 1],
                    pix[pos - xsize - 1],
                )
            res[pos] = (
                ((((pix[pos] >> 24) - (pred >> 24)) & 255) << 24)
                | ((((pix[pos] >> 16) - (pred >> 16)) & 255) << 16)
                | ((((pix[pos] >> 8) - (pred >> 8)) & 255) << 8)
                | (((pix[pos]) - (pred)) & 255)
            )
        pix = res

    bw.write(0, 1)  # end of transforms

    if cache_bits:
        if not 1 <= cache_bits <= 11:
            raise ValueError("cache_bits in 1..11")
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if meta_bits is None:
        bw.write(0, 1)  # no meta prefix image
        ops = _pixels_to_ops(pix, cache_bits, use_lz77, xsize)
        cache_size = (1 << cache_bits) if cache_bits else 0
        _emit_entropy_coded(bw, ops, (256 + 24 + cache_size, 256, 256, 256, 40))
    else:
        # meta prefix image: checkerboard the blocks over two code
        # groups so the decoder's per-pixel group switch is exercised.
        # Literals only — the group lookup happens per emitted pixel,
        # which LZ77/cache emission would have to mirror exactly.
        if use_lz77 or cache_bits:
            raise ValueError("meta_bits composes with transforms, not lz77/cache")
        if not 2 <= meta_bits <= 9:
            raise ValueError("meta_bits in 2..9")
        bw.write(1, 1)
        bw.write(meta_bits - 2, 3)
        mw = _div_ceil(xsize, 1 << meta_bits)
        mh = _div_ceil(h, 1 << meta_bits)
        gmap = [(bx + by) & 1 for by in range(mh) for bx in range(mw)]
        _encode_sub_image(bw, [0xFF000000 | (g << 8) for g in gmap], mw, mh)
        ngroups = 2 if any(gmap) else 1
        gfreqs = [[{} for _ in range(5)] for _ in range(ngroups)]
        pixgroup = []
        for pos, v in enumerate(pix):
            x = pos % xsize
            y = pos // xsize
            grp = gmap[(y >> meta_bits) * mw + (x >> meta_bits)]
            pixgroup.append(grp)
            for i, s in (
                (0, (v >> 8) & 255),
                (1, (v >> 16) & 255),
                (2, v & 255),
                (3, (v >> 24) & 255),
            ):
                gfreqs[grp][i][s] = gfreqs[grp][i].get(s, 0) + 1
        sizes = (280, 256, 256, 256, 40)
        gcodes = [
            [_write_prefix_code(bw, gfreqs[g][i], sizes[i]) for i in range(5)]
            for g in range(ngroups)
        ]
        for pos, v in enumerate(pix):
            codes = gcodes[pixgroup[pos]]
            for i, s in (
                (0, (v >> 8) & 255),
                (1, (v >> 16) & 255),
                (2, v & 255),
                (3, (v >> 24) & 255),
            ):
                l, c = codes[i][s]
                bw.write_code(c, l)

    body = bw.getvalue()
    chunk = b"VP8L" + len(body).to_bytes(4, "little") + body
    if len(body) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff
