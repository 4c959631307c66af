"""Baseline JPEG codec — pure Python + numpy, no codec library.

Completes the real-pixel decode ladder (`operators/multimodal.py`):
BMP/netpbm are raw, PNG rides stdlib zlib, GIF is hand-rolled LZW, and
JPEG — the one remaining common format — needs Huffman entropy coding
plus the 8x8 DCT, both implementable with numpy alone.

Decoder: baseline sequential DCT (SOF0/SOF1) AND progressive DCT
(SOF2, T.81 Annex G: interleaved DC first/refinement scans, AC
spectral-selection bands with EOB runs, AC successive-approximation
correction bits, per-scan DHT redefinition, partial-stream previews),
8-bit, 1- or 3-component, any sampling factors up to 2x2 (4:4:4 /
4:2:2 / 4:2:0), restart markers, byte unstuffing, generic DHT tables.
Arithmetic coding, hierarchical, and 12-bit return None — the
caller reports null pixels plus a ``decode_error``.

Encoders: a baseline quality-parameterized writer and a progressive
one (``encode_jpeg_progressive`` — full Annex-G scan script), used as
the decoder's round-trip partners in tests. Both quantize identical
coefficients, so progressive-vs-baseline decode is pinned BIT-EXACT;
against the original image the pin is bounded reconstruction error
(JPEG is lossy). They emit fixed 8-bit-code Huffman tables — any
prefix-free table is valid JPEG, and a generic table exercises the
decoder's canonical-code machinery the way third-party encoders do.

Reference analogue: none (pydala2 has no media surface). Public-spec
implementation (ITU T.81 baseline process); no reference code
consulted.
"""

from __future__ import annotations

import numpy as np

# zigzag scan order: index i of the scan holds block position ZIGZAG[i]
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)

# orthonormal 8-point DCT-II basis: FDCT F = T @ f @ T.T, IDCT f = T.T @ F @ T
_T = np.zeros((8, 8))
for _k in range(8):
    _a = np.sqrt(0.125) if _k == 0 else np.sqrt(0.25)
    for _n in range(8):
        _T[_k, _n] = _a * np.cos(np.pi * (2 * _n + 1) * _k / 16)

# Annex-K luminance/chrominance quantization tables (quality 50 base)
QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ]
)
QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ]
)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * s + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    unstuffing; surfaces restart markers to the MCU loop."""

    def __init__(self, data: bytes, start: int):
        self.data = data
        self.pos = start
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None  # pending RSTn/EOI

    def _fill(self) -> bool:
        d = self.data
        self.acc &= (1 << self.nbits) - 1  # trim consumed high bits
        while self.nbits < 25:
            if self.marker is not None or self.pos >= len(d):
                return self.nbits > 0
            b = d[self.pos]
            if b == 0xFF:
                if self.pos + 1 >= len(d):
                    return self.nbits > 0
                nxt = d[self.pos + 1]
                if nxt == 0x00:
                    self.pos += 2  # stuffed data byte
                else:
                    self.marker = nxt  # RSTn / EOI / next segment
                    return self.nbits > 0
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        return True

    def bit(self) -> int | None:
        if self.nbits == 0 and not self._fill():
            return None
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int | None:
        v = 0
        for _ in range(n):
            b = self.bit()
            if b is None:
                return None
            v = (v << 1) | b
        return v

    def sync_restart(self) -> bool:
        """Consume a pending RSTn marker and realign to a byte."""
        self.acc = 0
        self.nbits = 0
        if self.marker is None:
            # marker not yet seen: scan forward for it
            d = self.data
            while self.pos + 1 < len(d):
                if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                    self.pos += 2
                    return True
                self.pos += 1
            return False
        if 0xD0 <= self.marker <= 0xD7:
            self.pos += 2
            self.marker = None
            return True
        return False


def _build_huffman(bits: list[int], values: bytes) -> dict[tuple[int, int], int]:
    """Canonical JPEG Huffman: {(code_length, code): symbol}."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if vi >= len(values):
                return table
            table[(length, code)] = values[vi]
            vi += 1
            code += 1
        code <<= 1
    return table


def _huff_decode(r: _BitReader, table) -> int | None:
    code, length = 0, 0
    while length < 16:
        b = r.bit()
        if b is None:
            return None
        code = (code << 1) | b
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    return None


def _extend(v: int, size: int) -> int:
    """DC/AC magnitude decode: T.81 F.2.2.1 EXTEND."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg_pixels(payload: bytes):
    """``(H, W, 3) uint8`` RGB (or gray replicated) for a baseline
    sequential (SOF0/SOF1) or PROGRESSIVE (SOF2) JPEG, or None for
    arithmetic/hierarchical/12-bit/corrupt streams. Progressive decode
    implements ITU T.81 Annex G: per-component coefficient
    accumulation across any number of scans — interleaved DC first +
    refinement, per-component AC spectral-selection bands with EOB
    runs, and AC successive-approximation refinement (correction
    bits) — with Huffman tables snapshotted at each SOS (streams
    redefine DHT between scans). See module docstring."""
    if payload[:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
    frame = None  # (h, w, components)
    progressive = False
    scans_done = 0
    restart_interval = 0
    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:
            break  # EOI: reconstruct if progressive scans landed
        seglen = int.from_bytes(payload[i + 2 : i + 4], "big")
        seg = payload[i + 4 : i + 2 + seglen]
        if marker == 0xDB:  # DQT: one or more tables
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 15
                if pq != 0:
                    return None  # 16-bit tables: not baseline-8
                if j + 65 > len(seg):
                    return None
                qt[tq] = np.frombuffer(seg, np.uint8, 64, j + 1).astype(np.int32)
                j += 65
        elif marker == 0xC4:  # DHT: one or more tables
            j = 0
            while j + 17 <= len(seg):
                tc, th = seg[j] >> 4, seg[j] & 15
                bits = list(seg[j + 1 : j + 17])
                nv = sum(bits)
                vals = seg[j + 17 : j + 17 + nv]
                if len(vals) < nv:
                    return None
                huff[(tc, th)] = _build_huffman(bits, vals)
                j += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / ext seq / progressive
            if len(seg) < 6 or seg[0] != 8:
                return None
            progressive = marker == 0xC2
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if nc not in (1, 3) or len(seg) < 6 + 3 * nc or not h or not w:
                return None
            # amplification guards for the pure-Python path: unlike
            # PNG/GIF (output bounded by supplied compressed bytes),
            # JPEG's declared dims alone set the allocation, and an
            # EOB-only stream drives minutes of per-block Python from
            # a few KB. Cap absolute pixels AND decoded/encoded ratio.
            if w * h > 16_000_000 or w * h > 2000 * len(payload):
                return None
            comps = []
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 15, "tq": tq})
            if any(not (1 <= c["h"] <= 2 and 1 <= c["v"] <= 2) for c in comps):
                return None
            frame = (h, w, comps)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # lossless / arithmetic / hierarchical
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                return None
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if frame is None or len(seg) < 1:
                return None
            ns = seg[0]
            h, w, comps = frame
            if not progressive:
                if ns != len(comps) or len(seg) < 1 + 2 * ns:
                    return None
                by_id = {c["id"]: c for c in comps}
                scan = []
                for s in range(ns):
                    cid, tabs = seg[1 + 2 * s], seg[2 + 2 * s]
                    c = by_id.get(cid)
                    if c is None:
                        return None
                    c["dc"] = huff.get((0, tabs >> 4))
                    c["ac"] = huff.get((1, tabs & 15))
                    if c["dc"] is None or c["ac"] is None or c["tq"] not in qt:
                        return None
                    scan.append(c)
                return _decode_scan(
                    payload, i + 2 + seglen, h, w, scan, qt, restart_interval
                )
            # progressive: accumulate this scan's coefficients in place,
            # with the Huffman tables as defined AT THIS POINT in the
            # stream (scans routinely redefine DHT between SOS markers)
            if ns < 1 or ns > len(comps) or len(seg) < 4 + 2 * ns:
                return None
            if scans_done == 0:
                _alloc_progressive(h, w, comps)
            by_id = {c["id"]: c for c in comps}
            scan = []
            for s in range(ns):
                cid, tabs = seg[1 + 2 * s], seg[2 + 2 * s]
                c = by_id.get(cid)
                if c is None or c["tq"] not in qt:
                    return None
                scan.append((c, huff.get((0, tabs >> 4)), huff.get((1, tabs & 15))))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            nxt = _progressive_scan(
                payload,
                i + 2 + seglen,
                scan,
                ss,
                se,
                ahal >> 4,
                ahal & 15,
                restart_interval,
            )
            if nxt is None:
                return None
            scans_done += 1
            i = nxt
            continue
        i += 2 + seglen
    if progressive and frame is not None and scans_done:
        return _reconstruct_progressive(frame, qt)
    return None


def _alloc_progressive(h: int, w: int, comps: list[dict]) -> None:
    """Per-component coefficient state for progressive accumulation:
    a ``(block_rows, block_cols, 64) int32`` array in ZIGZAG-SCAN index
    order (scans address coefficients by spectral position Ss..Se),
    sized to the padded MCU grid; plus the component's NON-interleaved
    block dims (T.81 A.2.2: single-component scans walk
    ceil(comp_w/8) x ceil(comp_h/8) blocks, not the padded grid)."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    for c in comps:
        c["mcus_x"], c["mcus_y"] = mcus_x, mcus_y
        c["bw"], c["bh"] = mcus_x * c["h"], mcus_y * c["v"]
        cw = -(-w * c["h"] // hmax)
        ch = -(-h * c["v"] // vmax)
        c["bw_act"], c["bh_act"] = -(-cw // 8), -(-ch // 8)
        c["coef"] = np.zeros((c["bh"], c["bw"], 64), np.int32)
        c["pred"] = 0


def _progressive_scan(payload, start, scan, ss, se, ah, al, restart_interval):
    """Decode ONE progressive scan (T.81 G.2), mutating each
    component's ``coef`` state. Returns the payload offset of the next
    marker (the 0xFF byte), or None on a corrupt stream.

    Four scan kinds: DC first (Ss=Se=0, Ah=0 — interleaved MCU order
    when ns>1), DC refinement (Ah>0 — one appended bit per block),
    AC first (Ss>=1, ns==1 — spectral band with EOB-run coding), AC
    refinement (correction bits per G.1.2.3)."""
    dc_scan = ss == 0
    if dc_scan and se != 0:
        return None
    if not dc_scan and (len(scan) != 1 or not (1 <= ss <= se <= 63)):
        return None
    if ah and al != ah - 1:
        return None  # successive approximation lowers Al by exactly 1
    r = _BitReader(payload, start)

    if dc_scan:
        for c, dc, _ in scan:
            c["pred"] = 0
            if ah == 0 and dc is None:
                return None
        if len(scan) > 1:
            # interleaved: MCU order over the padded grid
            mcus_x = scan[0][0]["mcus_x"]
            n_mcu = mcus_x * scan[0][0]["mcus_y"]
            unit = 0
            for m in range(n_mcu):
                if restart_interval and m and m % restart_interval == 0:
                    for c, _, _ in scan:
                        c["pred"] = 0
                    if not r.sync_restart():
                        return None
                my, mx = divmod(m, mcus_x)
                for c, dc, _ in scan:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            if not _dc_unit(
                                r, c, my * c["v"] + by, mx * c["h"] + bx, dc, ah, al
                            ):
                                return None
                unit += 1
        else:
            c, dc, _ = scan[0]
            nb = c["bh_act"] * c["bw_act"]
            for b in range(nb):
                if restart_interval and b and b % restart_interval == 0:
                    c["pred"] = 0
                    if not r.sync_restart():
                        return None
                by, bx = divmod(b, c["bw_act"])
                if not _dc_unit(r, c, by, bx, dc, ah, al):
                    return None
    else:
        c, _, ac = scan[0]
        if ac is None:
            return None
        eobrun = 0
        nb = c["bh_act"] * c["bw_act"]
        coef = c["coef"]
        for b in range(nb):
            if restart_interval and b and b % restart_interval == 0:
                eobrun = 0
                if not r.sync_restart():
                    return None
            by, bx = divmod(b, c["bw_act"])
            if ah == 0:
                eobrun = _ac_first_unit(r, coef[by, bx], ss, se, al, ac, eobrun)
            else:
                eobrun = _ac_refine_unit(r, coef[by, bx], ss, se, al, ac, eobrun)
            if eobrun is None:
                return None
    # advance to the next marker: pending marker position, else scan
    # forward past padding bits / stray bytes for the next 0xFF xx
    if r.marker is not None:
        return r.pos
    d = payload
    j = r.pos
    while j + 1 < len(d):
        if d[j] == 0xFF and d[j + 1] not in (0x00,):
            return j
        j += 1
    return None


def _dc_unit(r, c, by, bx, dc, ah, al) -> bool:
    """One block's DC contribution: first scan accumulates the Huffman
    diff (point-transformed value << Al); refinement ORs in one bit."""
    if by >= c["bh"] or bx >= c["bw"]:
        return False
    if ah == 0:
        sym = _huff_decode(r, dc)
        if sym is None or sym > 15:
            return False
        if sym:
            v = r.bits(sym)
            if v is None:
                return False
            c["pred"] += _extend(v, sym)
        c["coef"][by, bx, 0] = c["pred"] << al
    else:
        b = r.bit()
        if b is None:
            return False
        if b:
            c["coef"][by, bx, 0] |= 1 << al
    return True


def _ac_first_unit(r, coef, ss, se, al, ac, eobrun):
    """AC first scan, one block (T.81 G.1.2.2): spectral band Ss..Se
    with EOB-run coding; coefficients land point-transformed << Al.
    Returns the updated EOB run, or None on corruption."""
    if eobrun:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(r, ac)
        if rs is None:
            return None
        run, size = rs >> 4, rs & 15
        if size == 0:
            if run == 15:
                k += 16  # ZRL
                continue
            n = 1 << run
            if run:
                extra = r.bits(run)
                if extra is None:
                    return None
                n += extra
            return n - 1  # EOBn covers this block too
        k += run
        if k > se:
            return None
        v = r.bits(size)
        if v is None:
            return None
        coef[k] = _extend(v, size) << al
        k += 1
    return 0


def _ac_refine_unit(r, coef, ss, se, al, ac, eobrun):
    """AC refinement, one block (T.81 G.1.2.3 / the libjpeg-compatible
    ordering): newly significant coefficients arrive as run/size=1
    symbols with a sign bit; every already-nonzero coefficient crossed
    contributes one correction bit. Returns the updated EOB run, or
    None on corruption."""
    p1, m1 = 1 << al, -(1 << al)

    def correct(k_from: int, k_to: int | None = None, run: int | None = None):
        """Advance from k_from reading correction bits at nonzero
        positions; stop after `run` zero-history positions (run mode)
        or at k_to (sweep mode). Returns the stop index or None."""
        k = k_from
        while k <= se:
            if coef[k] != 0:
                b = r.bit()
                if b is None:
                    return None
                if b and not (coef[k] & p1):
                    coef[k] += p1 if coef[k] > 0 else m1
            else:
                if run is not None:
                    if run == 0:
                        return k
                    run -= 1
            k += 1
        return k

    if eobrun:
        if correct(ss) is None:
            return None
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(r, ac)
        if rs is None:
            return None
        run, size = rs >> 4, rs & 15
        if size == 0:
            if run != 15:
                n = 1 << run
                if run:
                    extra = r.bits(run)
                    if extra is None:
                        return None
                    n += extra
                # end-of-band: correction bits for the rest of the band
                if correct(k) is None:
                    return None
                return n - 1
            newval = 0  # ZRL: 16 zero-history positions
        else:
            if size != 1:
                return None
            b = r.bit()
            if b is None:
                return None
            newval = p1 if b else m1
        k = correct(k, run=run)
        if k is None:
            return None
        if newval and k <= se:
            coef[k] = newval
        k += 1
    return 0


def _reconstruct_progressive(frame, qt):
    """Accumulated coefficients → pixels: dequantize + IDCT every
    block, crop each plane to its component dims, then the same
    upsample + YCbCr→RGB tail as the baseline path."""
    h, w, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    Tt = _T.T
    planes = []
    for c in comps:
        if "coef" not in c or c["tq"] not in qt:
            return None
        q = qt[c["tq"]]
        plane = np.zeros((c["bh"] * 8, c["bw"] * 8), np.float64)
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                block = np.zeros(64, np.float64)
                block[ZIGZAG] = c["coef"][by, bx] * q
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    Tt @ block.reshape(8, 8) @ _T + 128.0
                )
        p = plane.repeat(vmax // c["v"], axis=0).repeat(hmax // c["h"], axis=1)
        planes.append(p[:h, :w])
    if len(planes) == 1:
        g = np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    if len(planes) != 3:
        return None
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb], axis=2
    )
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def _decode_scan(payload, start, h, w, comps, qt, restart_interval):
    if len(comps) == 1:
        # T.81 A.2.2: a single-component scan is NON-interleaved — one
        # data unit per MCU in raster order, the declared sampling
        # factors notwithstanding (they only matter relative to other
        # components). Treating it as interleaved block-shuffles the
        # image (or desyncs the Huffman stream) for gray JPEGs that
        # declare 2x2 sampling.
        comps[0]["h"] = comps[0]["v"] = 1
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    for c in comps:
        bw = mcus_x * c["h"]
        bh = mcus_y * c["v"]
        c["plane"] = np.zeros((bh * 8, bw * 8), np.float64)
        c["pred"] = 0
    r = _BitReader(payload, start)
    Tt = _T.T
    n_mcu = mcus_x * mcus_y
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            for c in comps:
                c["pred"] = 0
            if not r.sync_restart():
                return None
        my, mx = divmod(m, mcus_x)
        for c in comps:
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    coeffs = np.zeros(64, np.int32)
                    sym = _huff_decode(r, c["dc"])
                    if sym is None:
                        return None
                    if sym:
                        v = r.bits(sym)
                        if v is None:
                            return None
                        c["pred"] += _extend(v, sym)
                    coeffs[0] = c["pred"]
                    k = 1
                    while k < 64:
                        rs = _huff_decode(r, c["ac"])
                        if rs is None:
                            return None
                        run, size = rs >> 4, rs & 15
                        if size == 0:
                            if run == 15:
                                k += 16  # ZRL
                                continue
                            break  # EOB
                        k += run
                        if k > 63:
                            return None
                        v = r.bits(size)
                        if v is None:
                            return None
                        coeffs[k] = _extend(v, size)
                        k += 1
                    block = np.zeros(64, np.float64)
                    block[ZIGZAG] = coeffs * qt[c["tq"]][np.arange(64)]
                    px = Tt @ block.reshape(8, 8) @ _T + 128.0
                    y0 = (my * c["v"] + by) * 8
                    x0 = (mx * c["h"] + bx) * 8
                    c["plane"][y0 : y0 + 8, x0 : x0 + 8] = px
    # upsample to full resolution and color-convert
    planes = []
    for c in comps:
        p = c["plane"]
        p = p.repeat(vmax // c["v"], axis=0).repeat(hmax // c["h"], axis=1)
        planes.append(p[:h, :w])
    if len(planes) == 1:
        g = np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb], axis=2
    )
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# encoder (round-trip partner; 4:4:4, generic fixed-length Huffman tables)
# ---------------------------------------------------------------------------


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-padding per spec

    def restart(self, m: int) -> None:
        self.flush()
        self.out += bytes([0xFF, 0xD0 + (m % 8)])


def _boxdown(p, fx, fy):
    """Box-average a plane down by (fx, fy) with edge padding — the
    chroma subsampling kernel shared by both encoders."""
    if fx == 1 and fy == 1:
        return p
    ph = -(-p.shape[0] // fy) * fy
    pw = -(-p.shape[1] // fx) * fx
    pp = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
    return pp.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))


def _rgb_to_planes(a, gray: bool):
    """uint8 (H, W, nc) → list of float64 Y'CbCr (or single gray)
    planes, the shared color front of both encoders."""
    if gray:
        return [a[:, :, 0].astype(np.float64)]
    rf = a[:, :, 0].astype(np.float64)
    gf = a[:, :, 1].astype(np.float64)
    bf = a[:, :, 2].astype(np.float64)
    return [
        0.299 * rf + 0.587 * gf + 0.114 * bf,
        -0.168736 * rf - 0.331264 * gf + 0.5 * bf + 128.0,
        0.5 * rf - 0.418688 * gf - 0.081312 * bf + 128.0,
    ]


def _flat_table(symbols: list[int]):
    """All-8-bit-code canonical table: (bits, values, {sym: (code, 8)}).
    Valid JPEG as long as <256 symbols (and none maps to all-ones —
    canonical assignment from 0 never reaches 0xFF for <=254 syms)."""
    assert len(symbols) <= 254
    bits = [0] * 16
    bits[7] = len(symbols)
    enc = {s: (i, 8) for i, s in enumerate(symbols)}
    return bits, bytes(symbols), enc


def encode_jpeg(
    arr, quality: int = 90, restart_interval: int = 0, subsampling: str = "444"
) -> bytes:
    """Encode ``(H, W, 3) uint8`` RGB (or 2-D gray) as a baseline
    JPEG. Lossy by nature — the decoder round-trip is pinned within a
    quality-dependent error bound in tests.

    ``subsampling``: ``"444"`` (default), ``"422"``, or ``"420"`` —
    chroma planes box-average down by the sampling factors and the
    MCU interleaves Y blocks with the subsampled chroma blocks, the
    layout virtually every camera/web JPEG uses (and the decoder's
    chroma-upsample path round-trips natively). Gray input is always
    single-component. ``restart_interval`` emits DRI + RSTn markers
    every N MCUs (the error-resilience feature real encoders use; it
    also pins the decoder's restart resynchronization)."""
    a = np.asarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    if gray:
        a = a[:, :, None]
    h, w = a.shape[:2]
    nc = 1 if gray else 3
    if subsampling not in ("444", "422", "420"):
        raise ValueError(f"subsampling must be 444|422|420, got {subsampling!r}")
    sh, sv = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}[subsampling]
    if gray:
        sh = sv = 1
    planes = _rgb_to_planes(a, gray)
    ql = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)

    # components: (plane, quant, (h_samp, v_samp)); chroma planes
    # box-average down by the sampling factors
    comps = [(planes[0], ql, (sh, sv))]
    for cp in planes[1:]:
        comps.append((_boxdown(cp, sh, sv), qc, (1, 1)))

    mcu_w, mcu_h = 8 * sh, 8 * sv
    mcus_x = -(-w // mcu_w)
    mcus_y = -(-h // mcu_h)
    # pad every plane (edge replication) to its full MCU-grid size
    padded = []
    for p, q, (ch_, cv_) in comps:
        th = mcus_y * cv_ * 8
        tw = mcus_x * ch_ * 8
        padded.append(
            (
                np.pad(
                    p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge"
                ),
                q,
                (ch_, cv_),
            )
        )

    dc_syms = list(range(12))
    ac_syms = sorted({0x00, 0xF0} | {(run << 4) | size for run in range(16) for size in range(1, 11)})
    dc_bits, dc_vals, dc_enc = _flat_table(dc_syms)
    ac_bits, ac_vals, ac_enc = _flat_table(ac_syms)

    bw_ = _BitWriter()
    pred = [0] * nc

    def emit_block(plane, q, y0, x0, ci):
        block = plane[y0 : y0 + 8, x0 : x0 + 8]
        Fc = _T @ (block - 128.0) @ _T.T
        # quantize + emit in zigzag scan order (DQT is written in the
        # same order, per spec)
        zz = np.rint(Fc.reshape(64)[ZIGZAG] / q[ZIGZAG]).astype(np.int32)
        diff = int(zz[0]) - pred[ci]
        pred[ci] = int(zz[0])
        size = _category(diff)
        code, ln = dc_enc[size]
        bw_.write(code, ln)
        if size:
            v = diff if diff >= 0 else diff + (1 << size) - 1
            bw_.write(v, size)
        run = 0
        last_nz = 63
        while last_nz > 0 and zz[last_nz] == 0:
            last_nz -= 1
        for k in range(1, last_nz + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c0, l0 = ac_enc[0xF0]
                bw_.write(c0, l0)
                run -= 16
            size = _category(v)
            code, ln = ac_enc[(run << 4) | size]
            bw_.write(code, ln)
            bw_.write(v if v >= 0 else v + (1 << size) - 1, size)
            run = 0
        if last_nz < 63:
            c0, l0 = ac_enc[0x00]
            bw_.write(c0, l0)  # EOB

    mcu = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw_.restart(rst)
                rst += 1
                pred = [0] * nc
            mcu += 1
            for ci, (plane, q, (ch_, cv_)) in enumerate(padded):
                for by in range(cv_):
                    for bx in range(ch_):
                        emit_block(
                            plane,
                            q,
                            (my * cv_ + by) * 8,
                            (mx * ch_ + bx) * 8,
                            ci,
                        )
    bw_.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    zz_l = ql[ZIGZAG].astype(np.uint8)
    zz_c = qc[ZIGZAG].astype(np.uint8)
    out = b"\xff\xd8"
    out += seg(0xDB, b"\x00" + bytes(zz_l))
    if nc == 3:
        out += seg(0xDB, b"\x01" + bytes(zz_c))
    sof = b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([nc])
    for ci in range(nc):
        samp = (sh << 4) | sv if ci == 0 else 0x11
        sof += bytes([ci + 1, samp, 0 if ci == 0 else 1])
    out += seg(0xC0, sof)
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))
    out += seg(0xC4, b"\x00" + bytes(dc_bits) + dc_vals)
    out += seg(0xC4, b"\x10" + bytes(ac_bits) + ac_vals)
    if nc == 3:
        out += seg(0xC4, b"\x01" + bytes(dc_bits) + dc_vals)
        out += seg(0xC4, b"\x11" + bytes(ac_bits) + ac_vals)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += bytes(bw_.out)
    out += b"\xff\xd9"
    return out


def _zz_quantized_blocks(plane, q, bh: int, bw: int):
    """Pad a plane to its (bh, bw) block grid, 8x8 FDCT every block
    (vectorized einsum over the orthonormal basis), quantize, and
    return ``(bh, bw, 64) int32`` coefficients in ZIGZAG-SCAN order —
    the representation progressive scans address by spectral index."""
    th, tw = bh * 8, bw * 8
    pp = np.pad(
        plane, ((0, th - plane.shape[0]), (0, tw - plane.shape[1])), mode="edge"
    )
    blocks = pp.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3) - 128.0
    Fc = np.einsum("ij,abjk,lk->abil", _T, blocks, _T)
    Fn = Fc.reshape(bh, bw, 64)
    return np.rint(Fn[:, :, ZIGZAG] / q[ZIGZAG]).astype(np.int32)


def encode_jpeg_progressive(
    arr, quality: int = 90, subsampling: str = "444"
) -> bytes:
    """Encode ``(H, W, 3) uint8`` RGB (or 2-D gray) as a PROGRESSIVE
    JPEG (SOF2) — the decoder's round-trip partner for T.81 Annex G.
    The scan script exercises every progressive scan kind the decoder
    implements: interleaved DC first at Al=1, per-component AC
    spectral-selection first scans (two bands for luma, so band
    boundaries and EOB runs both matter), per-component AC refinement
    (Ah=1→Al=0, correction bits in libjpeg's canonical ordering), and
    a final DC refinement. Coefficients are identical to the baseline
    encoder's, so progressive-vs-baseline decode is pinned EXACT in
    tests."""
    a = np.asarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    if gray:
        a = a[:, :, None]
    h, w = a.shape[:2]
    nc = 1 if gray else 3
    if subsampling not in ("444", "422", "420"):
        raise ValueError(f"subsampling must be 444|422|420, got {subsampling!r}")
    sh, sv = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}[subsampling]
    if gray:
        sh = sv = 1
    planes = _rgb_to_planes(a, gray)
    ql = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)
    mcus_x = -(-w // (8 * sh))
    mcus_y = -(-h // (8 * sv))
    comps = []  # (zz (bh,bw,64), (ch,cv), bw_act, bh_act)
    for ci in range(nc):
        ch_, cv_ = (sh, sv) if ci == 0 else (1, 1)
        q = ql if ci == 0 else qc
        p = planes[ci] if ci == 0 else _boxdown(planes[ci], sh, sv)
        bh_pad, bw_pad = mcus_y * cv_, mcus_x * ch_
        cw = -(-w * ch_ // sh)
        chh = -(-h * cv_ // sv)
        comps.append(
            (
                _zz_quantized_blocks(p, q, bh_pad, bw_pad),
                (ch_, cv_),
                -(-cw // 8),
                -(-chh // 8),
            )
        )

    dc_syms = list(range(12))
    ac_syms = sorted(
        {r << 4 for r in range(16)}
        | {(r << 4) | s for r in range(16) for s in range(1, 11)}
    )
    dc_bits, dc_vals, dc_enc = _flat_table(dc_syms)
    ac_bits, ac_vals, ac_enc = _flat_table(ac_syms)

    def dc_first_scan(cis: list[int], al: int) -> bytes:
        bw_ = _BitWriter()
        preds = {ci: 0 for ci in cis}
        if len(cis) > 1:
            order = []
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    for ci in cis:
                        ch_, cv_ = comps[ci][1]
                        for by in range(cv_):
                            for bx in range(ch_):
                                order.append((ci, my * cv_ + by, mx * ch_ + bx))
        else:
            ci = cis[0]
            _, _, bwa, bha = comps[ci]
            order = [(ci, b // bwa, b % bwa) for b in range(bha * bwa)]
        for ci, by, bx in order:
            v = int(comps[ci][0][by, bx, 0]) >> al  # arithmetic shift
            diff = v - preds[ci]
            preds[ci] = v
            size = _category(diff)
            code, ln = dc_enc[size]
            bw_.write(code, ln)
            if size:
                bw_.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
        bw_.flush()
        return bytes(bw_.out)

    def dc_refine_scan(cis: list[int], al: int) -> bytes:
        bw_ = _BitWriter()
        if len(cis) > 1:
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    for ci in cis:
                        ch_, cv_ = comps[ci][1]
                        for by in range(cv_):
                            for bx in range(ch_):
                                bw_.write(
                                    (int(comps[ci][0][my * cv_ + by, mx * ch_ + bx, 0]) >> al)
                                    & 1,
                                    1,
                                )
        else:
            ci = cis[0]
            _, _, bwa, bha = comps[ci]
            for b in range(bha * bwa):
                bw_.write((int(comps[ci][0][b // bwa, b % bwa, 0]) >> al) & 1, 1)
        bw_.flush()
        return bytes(bw_.out)

    def ac_first_scan(ci: int, ss: int, se: int, al: int) -> bytes:
        bw_ = _BitWriter()
        zz, _, bwa, bha = comps[ci]
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if not eobrun:
                return
            rb = eobrun.bit_length() - 1
            code, ln = ac_enc[rb << 4]
            bw_.write(code, ln)
            if rb:
                bw_.write(eobrun - (1 << rb), rb)
            eobrun = 0

        for b in range(bha * bwa):
            band = zz[b // bwa, b % bwa, ss : se + 1]
            vals = [
                (abs(int(v)) >> al) * (1 if v >= 0 else -1) for v in band
            ]
            nz = [k for k, v in enumerate(vals) if v]
            if not nz:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            r = 0
            for k in range(nz[-1] + 1):
                v = vals[k]
                if v == 0:
                    r += 1
                    continue
                while r > 15:
                    code, ln = ac_enc[0xF0]
                    bw_.write(code, ln)
                    r -= 16
                size = _category(v)
                code, ln = ac_enc[(r << 4) | size]
                bw_.write(code, ln)
                bw_.write(v if v >= 0 else v + (1 << size) - 1, size)
                r = 0
            if nz[-1] < len(vals) - 1:
                eobrun += 1  # trailing zeros fold into an EOB run
        flush_eob()
        bw_.flush()
        return bytes(bw_.out)

    def ac_refine_scan(ci: int, ss: int, se: int, al: int) -> bytes:
        # libjpeg jcphuff ordering: correction bits buffer until the
        # next emitted symbol; ZRL flushes only up to the last NEWLY
        # significant coefficient; per-block EOB flush (EOBRUN=1)
        bw_ = _BitWriter()
        zz, _, bwa, bha = comps[ci]
        for b in range(bha * bwa):
            band = zz[b // bwa, b % bwa, ss : se + 1]
            absv = [abs(int(v)) >> al for v in band]
            eob_idx = -1
            for k, t in enumerate(absv):
                if t == 1:
                    eob_idx = k
            r = 0
            pending: list[int] = []
            for k, t in enumerate(absv):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and k <= eob_idx:
                    code, ln = ac_enc[0xF0]
                    bw_.write(code, ln)
                    r -= 16
                    for bit in pending:
                        bw_.write(bit, 1)
                    pending = []
                if t > 1:
                    pending.append(t & 1)
                    continue
                code, ln = ac_enc[(r << 4) | 1]
                bw_.write(code, ln)
                bw_.write(1 if band[k] > 0 else 0, 1)
                for bit in pending:
                    bw_.write(bit, 1)
                pending = []
                r = 0
            if r > 0 or pending:
                code, ln = ac_enc[0x00]
                bw_.write(code, ln)  # EOB run of exactly this block
                for bit in pending:
                    bw_.write(bit, 1)
        bw_.flush()
        return bytes(bw_.out)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    def sos(cis: list[int], ss: int, se: int, ah: int, al: int, data: bytes) -> bytes:
        body = bytes([len(cis)])
        for ci in cis:
            body += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body) + data

    out = b"\xff\xd8"
    out += seg(0xDB, b"\x00" + bytes(ql[ZIGZAG].astype(np.uint8)))
    if nc == 3:
        out += seg(0xDB, b"\x01" + bytes(qc[ZIGZAG].astype(np.uint8)))
    sof = b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([nc])
    for ci in range(nc):
        samp = (sh << 4) | sv if ci == 0 else 0x11
        sof += bytes([ci + 1, samp, 0 if ci == 0 else 1])
    out += seg(0xC2, sof)
    out += seg(0xC4, b"\x00" + bytes(dc_bits) + dc_vals)
    out += seg(0xC4, b"\x10" + bytes(ac_bits) + ac_vals)

    all_ci = list(range(nc))
    out += sos(all_ci, 0, 0, 0, 1, dc_first_scan(all_ci, 1))
    out += sos([0], 1, 5, 0, 1, ac_first_scan(0, 1, 5, 1))
    out += sos([0], 6, 63, 0, 1, ac_first_scan(0, 6, 63, 1))
    for ci in range(1, nc):
        out += sos([ci], 1, 63, 0, 1, ac_first_scan(ci, 1, 63, 1))
    for ci in range(nc):
        out += sos([ci], 1, 63, 1, 0, ac_refine_scan(ci, 1, 63, 0))
    out += sos(all_ci, 0, 0, 1, 0, dc_refine_scan(all_ci, 0))
    return out + b"\xff\xd9"
