"""Hypothesis roundtrip properties for the native lossless codecs.

The existing codec tests replay fixed fixtures; these draw RANDOM
content and shapes, because the one real codec bug found by external
review (the VP8L 4096-pixel backref cap, ADVICE r07) lived exactly in
the input region no fixture visited — long constant runs. Every
lossless codec here must satisfy decode(encode(x)) == x for arbitrary
valid x, including the degenerate shapes (1x1, 1xN, Nx1), constant
runs crossing internal format boundaries, and extreme sample values.

Pure-Python codecs, no SparkSession — the suite stays cheap.
"""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from big_data_analysis_for_stock_market_data_spark.operators import flac as FL
from big_data_analysis_for_stock_market_data_spark.operators import multimodal as M
from big_data_analysis_for_stock_market_data_spark.operators import webp as W

SETTINGS = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

dims = st.tuples(st.integers(1, 24), st.integers(1, 24))


def _rng_pixels(seed: int, h: int, w: int, c: int, *, runs: bool) -> np.ndarray:
    """Deterministic pixel field from a drawn seed: pure noise, or noise
    with planted constant runs (the LZ77/filter-predictor stress shape)."""
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    if runs and h * w >= 4:
        flat = px.reshape(-1, c)
        start = int(rng.integers(0, len(flat) // 2))
        stop = int(rng.integers(start + 1, len(flat) + 1))
        flat[start:stop] = flat[start]
    return px


@given(dim=dims, seed=st.integers(0, 2**32 - 1), runs=st.booleans(),
       subtract_green=st.booleans(), cache_bits=st.sampled_from([0, 4]),
       rle=st.booleans())
@SETTINGS
def test_webp_lossless_roundtrip_random(dim, seed, runs, subtract_green,
                                        cache_bits, rle):
    h, w = dim
    px = _rng_pixels(seed, h, w, 4, runs=runs)
    out = W.decode_webp_lossless(W.build_webp_lossless(
        px, subtract_green=subtract_green, cache_bits=cache_bits, rle=rle,
    ))
    assert out is not None and np.array_equal(out, px)


@given(n=st.integers(4090, 4200), argb=st.integers(0, 2**32 - 1))
@SETTINGS
def test_webp_backref_cap_boundary(n, argb):
    """Constant runs straddling the VP8L 4096-pixel max-backref must
    split into multiple copy tokens and still roundtrip (the ADVICE r07
    bug class: pre-fix, any run > 4096 encoded an undecodable stream)."""
    px = np.empty((1, n, 4), dtype=np.uint8)
    px[..., 0] = (argb >> 16) & 0xFF
    px[..., 1] = (argb >> 8) & 0xFF
    px[..., 2] = argb & 0xFF
    px[..., 3] = (argb >> 24) & 0xFF
    out = W.decode_webp_lossless(W.build_webp_lossless(px))
    assert out is not None and np.array_equal(out, px)


@given(dim=dims, seed=st.integers(0, 2**32 - 1), runs=st.booleans(),
       filter_mode=st.sampled_from([0, 1, 2, 3, 4, "row_cycle"]),
       interlaced=st.booleans())
@SETTINGS
def test_png_roundtrip_random(dim, seed, runs, filter_mode, interlaced):
    h, w = dim
    px = _rng_pixels(seed, h, w, 3, runs=runs)
    enc = (M.encode_png_pixels_interlaced if interlaced
           else M.encode_png_pixels)
    out = M.decode_png_pixels(enc(px, filter_mode=filter_mode))
    assert out is not None and np.array_equal(out, px)


@given(dim=dims, seed=st.integers(0, 2**32 - 1), runs=st.booleans())
@SETTINGS
def test_gif_roundtrip_random(dim, seed, runs):
    h, w = dim
    idx = _rng_pixels(seed, h, w, 1, runs=runs)[:, :, 0]
    palette = np.random.default_rng(seed ^ 0x5A5A).integers(
        0, 256, size=(256, 3), dtype=np.uint8
    )
    out = M.decode_gif_pixels(M.build_gif_pixels(idx, palette))
    assert out is not None and np.array_equal(out, palette[idx])


@given(dim=dims, seed=st.integers(0, 2**32 - 1))
@SETTINGS
def test_bmp_roundtrip_random(dim, seed):
    h, w = dim
    px = _rng_pixels(seed, h, w, 3, runs=False)
    stride = ((w * 3 + 3) // 4) * 4
    rows = []
    for r in range(h - 1, -1, -1):  # BMP stores bottom-up BGR
        line = px[r, :, ::-1].tobytes()
        rows.append(line + b"\x00" * (stride - len(line)))
    out = M.decode_bmp_pixels(M.build_bmp(w, h, b"".join(rows)))
    assert out is not None and np.array_equal(out, px)


def _rng_zz(seed: int, n_blocks: int, density: int) -> np.ndarray:
    """Random zig-zag coefficient blocks within Annex-K category limits
    (|AC| <= 1023; |DC| <= 1023 keeps every DC diff under category 11)."""
    rng = np.random.default_rng(seed)
    zz = np.zeros((n_blocks, 64), dtype=np.int64)
    zz[:, 0] = rng.integers(-1023, 1024, size=n_blocks)
    for b in range(n_blocks):
        ks = rng.choice(np.arange(1, 64), size=density, replace=False)
        zz[b, ks] = rng.integers(1, 1024, size=density) * rng.choice(
            [-1, 1], size=density
        )
    return zz


@given(bw=st.integers(1, 4), bh=st.integers(1, 3),
       seed=st.integers(0, 2**32 - 1), density=st.integers(0, 40),
       ri=st.sampled_from([0, 1, 3]))
@SETTINGS
def test_jpeg_baseline_coeff_replay_random(bw, bh, seed, density, ri):
    zz = _rng_zz(seed, bw * bh, density)
    d = M.decode_jpeg(
        M.build_jpeg_from_coeffs(zz, bw, bh, restart_interval=ri)
    )
    assert d is not None and np.array_equal(d["zigzag_comps"][0], zz)


@given(bw=st.integers(1, 3), bh=st.integers(1, 2),
       seed=st.integers(0, 2**32 - 1), density=st.integers(0, 30))
@SETTINGS
def test_jpeg_progressive_matches_baseline_random(bw, bh, seed, density):
    """Annex-G progressive and Annex-F baseline entropy paths must agree
    on arbitrary coefficients — same zigzag, same pixels."""
    zz = _rng_zz(seed, bw * bh, density)
    prog = M.decode_jpeg(M.build_jpeg_progressive_from_coeffs(zz, bw, bh))
    base = M.decode_jpeg(M.build_jpeg_from_coeffs(zz, bw, bh))
    assert prog is not None and np.array_equal(prog["zigzag_comps"][0], zz)
    assert np.array_equal(base["zigzag_comps"][0], prog["zigzag_comps"][0])
    assert np.array_equal(base["pixels"], prog["pixels"])


@given(mx=st.integers(1, 3), my=st.integers(1, 2),
       sampling=st.sampled_from([(1, 1), (2, 1), (1, 2), (2, 2)]),
       seed=st.integers(0, 2**32 - 1), density=st.integers(0, 20),
       ri=st.sampled_from([0, 2]))
@SETTINGS
def test_jpeg_color_coeff_replay_random(mx, my, sampling, seed, density, ri):
    hy, vy = sampling
    n_mcus = mx * my
    y = _rng_zz(seed, n_mcus * hy * vy, density)
    cb = _rng_zz(seed ^ 0xCB, n_mcus, density)
    cr = _rng_zz(seed ^ 0xC4, n_mcus, density)
    d = M.decode_jpeg(M.build_jpeg_color_from_coeffs(
        y, cb, cr, mx, my, sampling, restart_interval=ri,
    ))
    assert d is not None
    gy, gcb, gcr = d["zigzag_comps"]
    assert np.array_equal(gy, y)
    assert np.array_equal(gcb, cb) and np.array_equal(gcr, cr)
    assert d["sampling"] == [(hy, vy), (1, 1), (1, 1)]
    assert d["pixels"].shape == (8 * vy * my, 8 * hy * mx, 3)


samples16 = st.lists(
    st.integers(-32768, 32767), min_size=1, max_size=1600,
)


@given(xs=samples16, block_size=st.sampled_from([64, 256, 4096]),
       constant=st.booleans())
@SETTINGS
def test_flac_mono_roundtrip_random(xs, block_size, constant):
    x = np.asarray(xs, dtype=np.int64)
    if constant:
        x[:] = x[0]
    d = FL.decode_flac(FL.build_flac(x, block_size=block_size))
    assert d is not None and d["md5_ok"]
    assert np.array_equal(d["samples"], x)
    assert d["n_frames"] == (len(x) + block_size - 1) // block_size


@given(xs=samples16, mode=st.sampled_from(
    ["independent", "identical", "negated", "offset"]))
@SETTINGS
def test_flac_stereo_roundtrip_random(xs, mode):
    """Random L/R content across the correlation regimes that steer the
    per-frame channel-assignment chooser toward each decorrelation."""
    left = np.asarray(xs, dtype=np.int64)
    if mode == "independent":
        right = left[::-1].copy()
    elif mode == "identical":
        right = left.copy()  # zero side channel
    elif mode == "negated":
        right = -np.clip(left, -32767, 32767)  # 17-bit side stress
    else:
        right = np.clip(left + 7, -32768, 32767)
    d = FL.decode_flac(FL.build_flac_stereo(left, right, block_size=256))
    assert d is not None and d["md5_ok"]
    assert np.array_equal(d["samples"][:, 0], left)
    assert np.array_equal(d["samples"][:, 1], right)


@given(xs=samples16, rate=st.sampled_from([8000, 44100]))
@SETTINGS
def test_wav_roundtrip_random(xs, rate):
    pcm = np.asarray(xs, dtype="<i2").tobytes()
    out = M.decode_wav_samples(M.build_wav(pcm, rate))
    assert out is not None
    assert np.array_equal(out, np.asarray(xs, dtype=np.int64))
