"""WebP-lossless (VP8L) codec contracts: exact round-trips through
every decoder path (transforms, color cache, distance-mapped LZ77,
simple and full prefix-code forms), hostile-input totality, and the
2-D distance map's arithmetic. No Spark session needed — the codec is
the numpy kernel that runs inside the mapInPandas media stages."""

from __future__ import annotations

import random

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pydala2_spark.operators.vp8l import (
    _lz77_symbol,
    _lz77_value,
    _map_distance,
    _BitReader,
    decode_webp_pixels,
    encode_webp_lossless,
)


def _rand(h, w, c, seed=0):
    return np.random.default_rng(seed).integers(0, 256, (h, w, c), dtype=np.uint8)


def test_plain_roundtrip_rgb_and_rgba():
    a = _rand(5, 7, 3, 1)
    out = decode_webp_pixels(encode_webp_lossless(a))
    assert out.shape == (5, 7, 3) and np.array_equal(out, a)
    a4 = _rand(4, 6, 4, 2)
    out4 = decode_webp_pixels(encode_webp_lossless(a4))
    # alpha flag in the stream header drives the channel count
    assert out4.shape == (4, 6, 4) and np.array_equal(out4, a4)
    gray = np.random.default_rng(3).integers(0, 256, (3, 4), dtype=np.uint8)
    outg = decode_webp_pixels(encode_webp_lossless(gray))
    assert np.array_equal(outg, np.repeat(gray[:, :, None], 3, axis=2))


def test_every_predictor_mode_roundtrips():
    """All 14 spatial predictors, including the edge rules (top row
    forces L, left column forces T, TR at the last column wraps to the
    current row's first pixel)."""
    a = _rand(6, 9, 3, 4)
    for mode in range(14):
        out = decode_webp_pixels(encode_webp_lossless(a, predictor_mode=mode))
        assert out is not None and np.array_equal(out, a), f"mode {mode}"


def test_subtract_green_and_combined_transforms():
    a = _rand(5, 5, 3, 5)
    assert np.array_equal(
        decode_webp_pixels(encode_webp_lossless(a, use_subtract_green=True)), a
    )
    combined = encode_webp_lossless(
        a, use_subtract_green=True, predictor_mode=12, cache_bits=3, use_lz77=True
    )
    assert np.array_equal(decode_webp_pixels(combined), a)


def test_palette_bundling_all_widths():
    """Color indexing at every bundling width: <=2 colors pack 8
    indexes per green byte, <=4 pack 4, <=16 pack 2, >16 unbundled."""
    rng = np.random.default_rng(6)
    for n_colors in (2, 3, 9, 40):
        lut = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
        idx = rng.integers(0, n_colors, (7, 13))
        img = lut[idx]
        payload = encode_webp_lossless(img, use_palette=True)
        out = decode_webp_pixels(payload)
        assert out is not None and np.array_equal(out, img), n_colors
    with pytest.raises(ValueError):
        encode_webp_lossless(_rand(40, 40, 3, 7), use_palette=True)  # >256 colors


def test_color_cache_and_lz77_runs():
    rng = np.random.default_rng(8)
    # few distinct colors, repeated -> cache hits dominate
    lut = rng.integers(0, 256, (5, 3), dtype=np.uint8)
    img = lut[rng.integers(0, 5, (9, 11))]
    for bits in (1, 4, 11):
        out = decode_webp_pixels(encode_webp_lossless(img, cache_bits=bits))
        assert np.array_equal(out, img), bits
    # long uniform runs -> LZ77 length codes with extra bits, and the
    # overlapping distance-1 copy the spec allows
    runs = np.full((20, 33, 3), 77, np.uint8)
    runs[5, 7] = (1, 2, 3)
    plain = encode_webp_lossless(runs)
    packed = encode_webp_lossless(runs, use_lz77=True)
    assert np.array_equal(decode_webp_pixels(packed), runs)
    assert len(packed) < len(plain) / 5  # the runs actually compressed


def test_meta_prefix_image_roundtrip():
    """The meta prefix (entropy) image path: blocks checkerboarded
    across two independent code groups; the decoder must switch
    groups per pixel. Also the degenerate one-block case."""
    a = _rand(11, 13, 3, 20)
    for mb in (2, 3, 4):
        out = decode_webp_pixels(encode_webp_lossless(a, meta_bits=mb))
        assert out is not None and np.array_equal(out, a), mb
    # composes with transforms (but not with lz77/cache emission)
    out = decode_webp_pixels(
        encode_webp_lossless(a, use_subtract_green=True, predictor_mode=7, meta_bits=2)
    )
    assert np.array_equal(out, a)
    tiny = _rand(3, 3, 3, 21)  # one block -> single group
    assert np.array_equal(
        decode_webp_pixels(encode_webp_lossless(tiny, meta_bits=4)), tiny
    )
    with pytest.raises(ValueError):
        encode_webp_lossless(a, meta_bits=2, use_lz77=True)
    with pytest.raises(ValueError):
        encode_webp_lossless(a, meta_bits=2, cache_bits=3)


def test_distance_map_arithmetic():
    """Spot-check the 120-entry 2-D distance mapping against
    hand-computed pixel offsets (spec §4.2.2): code 1 -> the pixel
    above (dist = xsize), code 2 -> the left neighbor (dist = 1),
    code 3 -> (1, 1) = xsize + 1; plain distances resume at
    code 121."""
    xs = 50
    assert _map_distance(1, xs) == xs  # (0, 1): directly above
    assert _map_distance(2, xs) == 1  # (1, 0): left neighbor
    assert _map_distance(3, xs) == xs + 1  # (1, 1)
    assert _map_distance(4, xs) == xs - 1  # (-1, 1)
    assert _map_distance(5, xs) == 2 * xs  # (0, 2)
    assert _map_distance(6, xs) == 2  # (2, 0)
    assert _map_distance(121, xs) == 1  # plain: code - 120
    assert _map_distance(5000, xs) == 4880
    # negative offsets floor at 1 for tiny widths
    assert _map_distance(4, 1) == 1  # (-1, 1): 1*1 - 1 = 0 -> 1


def test_lz77_symbol_value_inverse():
    class _FakeBR:
        def __init__(self, vals):
            self.vals = list(vals)

        def read(self, k):
            return self.vals.pop(0) if k else 0

    for v in list(range(1, 50)) + [777, 4096]:
        sym, ev, eb = _lz77_symbol(v)
        assert 0 <= sym < 40
        assert _lz77_value(sym, _FakeBR([ev])) == v


def test_hostile_inputs_return_none():
    a = _rand(4, 4, 3, 9)
    good = encode_webp_lossless(a)
    # truncations at every byte boundary: None or a valid array, never a raise
    for cut in range(len(good)):
        decode_webp_pixels(good[:cut])
    # lossy VP8 chunk: honest None (out of dependency-free scope)
    lossy = b"RIFF" + (20).to_bytes(4, "little") + b"WEBPVP8 " + bytes(12)
    assert decode_webp_pixels(lossy) is None
    # wrong signature byte / nonzero version bits
    body = bytearray(good)
    off = good.index(b"VP8L") + 8
    body[off] = 0x2E
    assert decode_webp_pixels(bytes(body)) is None
    # bomb: 16384x16384 declared in a tiny payload
    from pydala2_spark.operators.vp8l import _BitWriter

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(16383, 14)
    bw.write(16383, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    raw = bw.getvalue() + bytes(40)
    bomb = (
        b"RIFF"
        + (12 + len(raw)).to_bytes(4, "little")
        + b"WEBPVP8L"
        + len(raw).to_bytes(4, "little")
        + raw
    )
    assert decode_webp_pixels(bomb) is None


def test_totality_over_random_bytes():
    rng = random.Random(41)
    prefixes = [b"", b"RIFF", b"RIFF\x10\x00\x00\x00WEBP", b"RIFF\x10\x00\x00\x00WEBPVP8L"]
    for _ in range(300):
        blob = rng.choice(prefixes) + bytes(
            rng.getrandbits(8) for _ in range(rng.randrange(0, 160))
        )
        decode_webp_pixels(blob)  # array or None, never a raise


def test_bitreader_truncation_and_lsb_order():
    br = _BitReader(bytes([0b10110010, 0xFF]))
    assert br.read(3) == 0b010  # LSB-first
    assert br.read(5) == 0b10110
    assert br.read(8) == 0xFF
    with pytest.raises(Exception):
        br.read(1)


def test_ladder_dispatch_and_pure_parity():
    """decode_image_pixels routes RIFF/WEBP payloads with a VP8L chunk
    to the pure decoder (same pixels as calling it directly), and
    returns None for lossy VP8."""
    from pydala2_spark.operators import multimodal as mm
    from pydala2_spark.operators.vp8l import decode_webp_pixels

    a = _rand(5, 6, 3, 10)
    payload = encode_webp_lossless(a, use_lz77=True)
    assert np.array_equal(mm.decode_image_pixels(payload), a)
    assert np.array_equal(decode_webp_pixels(payload), a)
    lossy = b"RIFF" + (20).to_bytes(4, "little") + b"WEBPVP8 " + bytes(12)
    assert mm.decode_image_pixels(lossy) is None


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 9),
    w=st.integers(1, 9),
    c=st.sampled_from([1, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
    subgreen=st.booleans(),
    pred=st.one_of(st.none(), st.integers(0, 13)),
    cache=st.sampled_from([0, 2, 6]),
    lz77=st.booleans(),
)
def test_roundtrip_property(h, w, c, seed, subgreen, pred, cache, lz77):
    rng = np.random.default_rng(seed)
    # mix high-entropy and low-cardinality images so cache/LZ77 paths fire
    if seed % 2:
        lut = rng.integers(0, 256, (3, c), dtype=np.uint8)
        a = lut[rng.integers(0, 3, (h, w))]
    else:
        a = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
    payload = encode_webp_lossless(
        a,
        use_subtract_green=subgreen,
        predictor_mode=pred,
        cache_bits=cache,
        use_lz77=lz77,
    )
    out = decode_webp_pixels(payload)
    expected = np.repeat(a, 3, axis=2) if c == 1 else a
    assert out is not None and np.array_equal(out, expected)


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(1, 8),
    w=st.integers(1, 8),
    n_colors=st.integers(1, 20),
    seed=st.integers(0, 2**31 - 1),
)
def test_palette_roundtrip_property(h, w, n_colors, seed):
    rng = np.random.default_rng(seed)
    lut = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    a = lut[rng.integers(0, n_colors, (h, w))]
    out = decode_webp_pixels(encode_webp_lossless(a, use_palette=True))
    assert out is not None and np.array_equal(out, a)
