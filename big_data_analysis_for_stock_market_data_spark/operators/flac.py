"""FLAC audio codec, library-free (r07).

Implements the real core of the public FLAC format: the ``fLaC``
stream with a STREAMINFO metadata block (including the MD5 of the
unencoded audio, verified on decode), MSB-first frame coding with
CRC-8-protected headers and CRC-16-protected frames, UTF-8-coded frame
numbers, CONSTANT / VERBATIM / FIXED(0-4) subframes, and Rice-coded
residuals (4-bit parameters, zig-zag folding, escape-to-raw, any
partition order on decode), plus REAL LPC subframes: the encoder runs
Levinson-Durbin and quantizes coefficients (the float solve only
CHOOSES the predictor; residuals are exact integers, so roundtrips
stay bit-exact), emitting LPC whenever it beats the best fixed order;
the decoder reconstructs any order with the spec's arithmetic-shift
prediction. The encoder picks the cheapest of constant /
fixed-order-0..4 / LPC(8) per frame and emits partition order 0.

STEREO is real too (r07): the encoder tries all four channel
assignments per frame — independent, left/side, right/side, mid/side
(side at 17 bits) — and keeps the cheapest; the decoder reconstructs
every assignment and the MD5 covers interleaved L/R PCM.

Documented out-of-scope corners (decoder returns ``None``): wasted
bits, negative LPC shifts, >2 channels, and non-16-bit depths — the
encoder never emits them.

Scale shape: per-payload decode inside mapInPandas Arrow batches like
the other native codecs (operators/multimodal.py header).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T


class _MsbWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.buf.append((self.acc >> (self.n - 8)) & 0xFF)
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a 1

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)

    def done(self) -> bytes:
        self.align()
        return bytes(self.buf)


class _MsbReader:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, nbits: int) -> "int | None":
        v = 0
        for _ in range(nbits):
            if self.byte >= len(self.data):
                return None
            v = (v << 1) | ((self.data[self.byte] >> (7 - self.bit)) & 1)
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return v

    def read_unary(self) -> "int | None":
        q = 0
        while True:
            b = self.read(1)
            if b is None:
                return None
            if b:
                return q
            q += 1

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000 else (crc << 1) & 0xFFFF
            )
    return crc


def _utf8_frame_number(n: int) -> bytes:
    """FLAC's UTF-8-style variable-length frame-number coding."""
    if n < 0x80:
        return bytes([n])
    bits = n.bit_length()
    # a k-byte form carries (7 - k) lead bits + 6 per continuation byte
    for k in range(2, 8):
        if bits <= (7 - k) + 6 * (k - 1):
            n_bytes = k
            break
    else:
        raise ValueError("frame number too large")
    parts = []
    for _ in range(n_bytes - 1):
        parts.append(0x80 | (n & 0x3F))
        n >>= 6
    lead_prefix = (0xFF << (8 - n_bytes)) & 0xFF
    out = [lead_prefix | n] + parts[::-1]
    return bytes(out)


def _read_utf8_frame_number(br: _MsbReader) -> "int | None":
    b0 = br.read(8)
    if b0 is None:
        return None
    if b0 < 0x80:
        return b0
    n_bytes = 0
    mask = 0x80
    while b0 & mask:
        n_bytes += 1
        mask >>= 1
    if n_bytes < 2 or n_bytes > 7:
        return None
    v = b0 & (mask - 1)
    for _ in range(n_bytes - 1):
        b = br.read(8)
        if b is None or (b & 0xC0) != 0x80:
            return None
        v = (v << 6) | (b & 0x3F)
    return v


_FIXED_COEFS = (
    (),
    (1,),
    (2, -1),
    (3, -3, 1),
    (4, -6, 4, -1),
)


def _rice_cost(residual: "np.ndarray", k: int) -> int:
    u = np.where(residual >= 0, residual * 2, -residual * 2 - 1)
    return int((u >> k).sum()) + len(u) * (k + 1)


def _write_rice(bw: _MsbWriter, residual: "np.ndarray", k: int) -> None:
    for v in residual:
        v = int(v)
        u = (v << 1) if v >= 0 else ((-v) << 1) - 1
        bw.write_unary(u >> k)
        if k:
            bw.write(u & ((1 << k) - 1), k)


def _lpc_analyze(
    blk: "np.ndarray", order: int = 8, precision: int = 15,
    shift: int = 12,
) -> "tuple | None":
    """Levinson-Durbin LPC analysis with quantized integer
    coefficients (r07 — closes the 'LPC out of scope' corner). The
    float solve only CHOOSES the coefficients; the residuals are then
    computed in exact integer arithmetic (pred = (sum(qc * hist)) >>
    shift, arithmetic/floor shift), so the roundtrip stays bit-exact
    regardless of platform float behavior. Returns (cost, order,
    qcoefs, precision, shift, residual, rice_k) or None if the block
    is unsuitable (degenerate autocorrelation)."""
    x = blk.astype(np.float64)
    n = len(x)
    if n <= order + 1:
        return None
    ac = np.array([
        float(np.dot(x[: n - lag], x[lag:])) for lag in range(order + 1)
    ])
    if ac[0] <= 0:
        return None
    err = ac[0]
    coefs = np.zeros(order)
    for i in range(order):
        acc = ac[i + 1] - np.dot(coefs[:i], ac[i:0:-1][:i])
        k = acc / err
        coefs[:i], coefs[i] = coefs[:i] - k * coefs[:i][::-1], k
        err *= 1 - k * k
        if err <= 0:
            return None
    qc = np.clip(
        np.round(coefs * (1 << shift)),
        -(1 << (precision - 1)), (1 << (precision - 1)) - 1,
    ).astype(np.int64)
    if not qc.any():
        return None
    # exact integer residuals from the quantized predictor
    hist = np.stack(
        [blk[order - 1 - i: n - 1 - i] for i in range(order)], axis=1
    )
    pred = (hist @ qc) >> shift
    res = blk[order:] - pred
    if np.abs(res).max(initial=0) >= 1 << 30:
        return None
    ks = min(range(15), key=lambda k: _rice_cost(res, k))
    cost = 16 * order + 4 + 5 + precision * order + _rice_cost(res, ks)
    return (cost, order, qc, precision, shift, res, ks)


def _encode_subframe(body: _MsbWriter, blk: "np.ndarray", depth: int) -> None:
    """Encode ONE subframe at ``depth`` bits (17 for a side channel):
    cheapest of CONSTANT / FIXED(0-4) / LPC(8), Rice residuals with
    the best 4-bit parameter, partition order 0."""
    bs = len(blk)
    if bs and np.all(blk == blk[0]):
        body.write(0, 1)
        body.write(0, 6)  # CONSTANT
        body.write(0, 1)
        body.write(int(blk[0]), depth)
        return
    # best fixed order by Rice cost of the residual
    best = None
    for order in range(min(5, bs)):
        res = blk.copy()
        for _ in range(order):
            res = np.diff(res)
        ks = min(
            range(15), key=lambda k: _rice_cost(res[0:], k)
        ) if len(res) else 0
        cost = depth * order + _rice_cost(res, ks)
        if best is None or cost < best[0]:
            best = (cost, order, res, ks)
    _, order, res, ks = best
    lpc = _lpc_analyze(blk) if bs > 16 else None
    if lpc is not None and lpc[0] < depth * order + _rice_cost(res, ks):
        _, lorder, qcoefs, precision, shift, lres, lks = lpc
        body.write(0, 1)
        body.write(32 + lorder - 1, 6)  # LPC(order)
        body.write(0, 1)  # no wasted bits
        for w in blk[:lorder]:
            body.write(int(w), depth)
        body.write(precision - 1, 4)
        body.write(shift, 5)
        for c in qcoefs:
            body.write(int(c), precision)
        body.write(0, 2)
        body.write(0, 4)
        body.write(lks, 4)
        _write_rice(body, lres, lks)
    else:
        body.write(0, 1)
        body.write(8 + order, 6)  # FIXED(order)
        body.write(0, 1)  # no wasted bits
        for w in blk[:order]:
            body.write(int(w), depth)
        body.write(0, 2)  # Rice method, 4-bit params
        body.write(0, 4)  # partition order 0
        body.write(ks, 4)
        _write_rice(body, res, ks)


def build_flac(
    samples: "np.ndarray",
    sample_rate: int = 8000,
    block_size: int = 4096,
) -> bytes:
    """REAL FLAC encoder for 16-bit mono PCM: STREAMINFO with the
    audio MD5, per-frame best-of (constant | fixed 0-4) subframe
    selection, Rice residuals with the per-frame best 4-bit parameter,
    CRC-8/CRC-16. Roundtrip partner of ``decode_flac``."""
    x = np.asarray(samples, dtype=np.int64)
    n_total = len(x)
    md5 = hashlib.md5(
        x.astype("<i2").tobytes()
    ).digest()

    out = bytearray(b"fLaC")
    info = _MsbWriter()
    info.write(block_size, 16)
    info.write(block_size, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(sample_rate, 20)
    info.write(0, 3)  # channels - 1
    info.write(15, 5)  # bits per sample - 1
    info.write(n_total, 36)
    si = info.done() + md5
    out += bytes([0x80]) + struct.pack(">I", len(si))[1:] + si  # last block

    frame_no = 0
    for start in range(0, n_total, block_size):
        blk = x[start:start + block_size]
        bs = len(blk)
        hdr = _MsbWriter()
        hdr.write(0b11111111111110, 14)
        hdr.write(0, 1)  # reserved
        hdr.write(0, 1)  # fixed blocksize strategy
        hdr.write(0b0111, 4)  # blocksize: 16-bit field follows
        hdr.write(0, 4)  # sample rate: from STREAMINFO
        hdr.write(0, 4)  # channels: 1 (independent)
        hdr.write(0b100, 3)  # 16 bits per sample
        hdr.write(0, 1)  # reserved
        hbytes = bytearray(hdr.done())
        hbytes += _utf8_frame_number(frame_no)
        hbytes += struct.pack(">H", bs - 1)
        hbytes.append(_crc8(bytes(hbytes)))

        body = _MsbWriter()
        _encode_subframe(body, blk, 16)
        fbytes = bytes(hbytes) + body.done()
        fbytes += struct.pack(">H", _crc16(fbytes))
        out += fbytes
        frame_no += 1
    return bytes(out)


def _decode_subframe(br: _MsbReader, bs: int, depth: int) -> "list[int] | None":
    """Decode ONE subframe at ``depth`` bits: CONSTANT / VERBATIM /
    FIXED(0-4) / LPC(any order) with Rice residuals at any partition
    order; returns the reconstructed channel or None."""
    if br.read(1) != 0:
        return None
    sf_type = br.read(6)
    if sf_type is None or br.read(1) != 0:  # wasted bits out of scope
        return None

    def sext(v: "int | None") -> "int | None":
        if v is None:
            return None
        return v - (1 << depth) if v >= 1 << (depth - 1) else v

    if sf_type == 0:  # CONSTANT
        v = sext(br.read(depth))
        return None if v is None else [v] * bs
    if sf_type == 1:  # VERBATIM
        blk = [sext(br.read(depth)) for _ in range(bs)]
        return None if any(v is None for v in blk) else blk
    if not (8 <= sf_type <= 12 or sf_type >= 32):
        return None  # unknown subframe type
    is_lpc = sf_type >= 32
    order = (sf_type - 31) if is_lpc else (sf_type - 8)
    warm = [sext(br.read(depth)) for _ in range(order)]
    if any(v is None for v in warm):
        return None
    qcoefs = None
    shift = 0
    if is_lpc:
        precision = br.read(4)
        if precision is None or precision == 15:
            return None
        precision += 1
        shift = br.read(5)
        if shift is None or shift >= 16:
            return None  # negative shifts unsupported
        qcoefs = []
        for _ in range(order):
            c = br.read(precision)
            if c is None:
                return None
            if c >= 1 << (precision - 1):
                c -= 1 << precision
            qcoefs.append(c)
    method = br.read(2)
    if method not in (0, 1):
        return None
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.read(4)
    if porder is None:
        return None
    n_parts = 1 << porder
    res: list[int] = []
    for pi in range(n_parts):
        cnt = bs >> porder
        if pi == 0:
            cnt -= order
        k = br.read(pbits)
        if k is None:
            return None
        if k == escape:
            raw = br.read(5)
            if raw is None:
                return None
            for _ in range(cnt):
                v = br.read(raw)
                if v is None:
                    return None
                res.append(
                    v - (1 << raw) if raw and v >= 1 << (raw - 1) else v
                )
        else:
            for _ in range(cnt):
                q = br.read_unary()
                if q is None:
                    return None
                u = (q << k) | (br.read(k) if k else 0)
                res.append((u >> 1) if u % 2 == 0 else -((u + 1) >> 1))
    blk = list(warm)
    coefs = qcoefs if is_lpc else _FIXED_COEFS[order]
    for e in res:
        pred = sum(c * blk[-i - 1] for i, c in enumerate(coefs))
        if is_lpc:
            pred >>= shift  # arithmetic shift per spec
        blk.append(e + pred)
    return blk


def decode_flac(payload: bytes) -> "dict | None":
    """REAL FLAC decoder: metadata walk to STREAMINFO, frame loop with
    CRC-8 + CRC-16 verification, UTF-8 frame numbers, CONSTANT /
    VERBATIM / FIXED(0-4) / LPC(any order) subframes, Rice residuals
    at any partition order (including the 5-bit-parameter method and
    raw escapes), stereo decorrelation (left/side, right/side,
    mid/side), and the STREAMINFO MD5 check over the reconstructed
    PCM. 16-bit, 1-2 channels; wasted bits, negative LPC shifts,
    >2 channels and non-16-bit depths return None (documented out of
    scope). Returns {'samples', 'sample_rate', 'n_samples',
    'md5_ok', 'n_frames'}."""
    if payload is None or payload[:4] != b"fLaC":
        return None
    try:
        pos = 4
        streaminfo = None
        while pos + 4 <= len(payload):
            hdr = payload[pos]
            size = int.from_bytes(payload[pos + 1:pos + 4], "big")
            if (hdr & 0x7F) == 0:
                streaminfo = payload[pos + 4:pos + 4 + size]
            pos += 4 + size
            if hdr & 0x80:
                break
        if streaminfo is None or len(streaminfo) < 34:
            return None
        si = _MsbReader(streaminfo)
        si.read(16)
        si.read(16)
        si.read(24)
        si.read(24)
        sample_rate = si.read(20)
        n_channels = si.read(3) + 1
        bits = si.read(5) + 1
        n_total = si.read(36)
        md5_expect = streaminfo[18:34]
        if n_channels not in (1, 2) or bits != 16:
            return None
        samples: list[int] = []
        n_frames = 0
        while pos + 2 <= len(payload):
            frame_start = pos
            br = _MsbReader(payload, pos)
            sync = br.read(14)
            if sync != 0b11111111111110:
                return None
            br.read(1)
            br.read(1)
            bs_code = br.read(4)
            sr_code = br.read(4)
            ch_code = br.read(4)
            ss_code = br.read(3)
            br.read(1)
            if _read_utf8_frame_number(br) is None:
                return None
            if bs_code == 0b0110:
                bs = br.read(8) + 1
            elif bs_code == 0b0111:
                bs = br.read(16) + 1
            elif 2 <= bs_code <= 5:
                bs = 576 << (bs_code - 2)
            elif bs_code >= 8:
                bs = 256 << (bs_code - 8)
            else:
                return None
            if sr_code in (0b1100, 0b1101, 0b1110):
                br.read(8 if sr_code == 0b1100 else 16)
            crc8_got = br.read(8)
            if crc8_got != _crc8(payload[frame_start:br.byte - 1]):
                return None
            if ss_code != 0b100:
                return None  # only 16-bit sample size
            # channel assignment -> per-subframe depths (side gets +1)
            if ch_code == 0:
                depths = (16,)
            elif ch_code == 1:
                depths = (16, 16)
            elif ch_code == 8:  # left/side
                depths = (16, 17)
            elif ch_code == 9:  # right/side: SIDE first per spec
                depths = (17, 16)
            elif ch_code == 10:  # mid/side
                depths = (16, 17)
            else:
                return None
            chans = []
            for depth in depths:
                blk = _decode_subframe(br, bs, depth)
                if blk is None:
                    return None
                chans.append(blk)
            if ch_code == 8:
                left = chans[0]
                chans = [left, [left[i] - chans[1][i] for i in range(bs)]]
            elif ch_code == 9:
                right = chans[1]
                chans = [
                    [chans[0][i] + right[i] for i in range(bs)], right
                ]
            elif ch_code == 10:
                mid, side = chans
                lr = []
                rr = []
                for i in range(bs):
                    m = (mid[i] << 1) | (side[i] & 1)
                    lr.append((m + side[i]) >> 1)
                    rr.append((m - side[i]) >> 1)
                chans = [lr, rr]
            br.align()
            crc16_got = br.read(16)
            if crc16_got != _crc16(payload[frame_start:br.byte - 2]):
                return None
            if len(chans) == 1:
                samples.extend(chans[0])
            else:
                for i in range(bs):
                    samples.append(chans[0][i])
                    samples.append(chans[1][i])
            pos = br.byte
            n_frames += 1
            if len(samples) >= n_total * n_channels:
                break
        arr = np.asarray(samples[: n_total * n_channels], dtype=np.int64)
        md5_ok = hashlib.md5(
            arr.astype("<i2").tobytes()
        ).digest() == md5_expect
        if n_channels == 2:
            arr = arr.reshape(-1, 2)
        return {
            "samples": arr,
            "sample_rate": int(sample_rate),
            "n_samples": int(n_total),
            "md5_ok": bool(md5_ok),
            "n_frames": n_frames,
        }
    except (TypeError, IndexError):
        return None


def flac_roundtrip_stats(
    users: DataFrame, id_col: str = "user_id"
) -> DataFrame:
    """Encode->NATIVE-decode FLAC verification stage: per id, a
    deterministic 16-bit waveform — x(t) = ((id*13 + t*7) % 2001)
    - 1000 over n = 600 + 97*(id%5) samples (sawtooth: fixed-order
    prediction compresses it, exercising Rice residuals; the length
    forces a partial final frame with block_size=512) — is FLAC-
    encoded and decoded back. The STREAMINFO MD5 over reconstructed
    PCM must verify, and exact integer sums must equal the closed-form
    replay."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("md5_ok", T.LongType(), True),
        T.StructField("sum_samples", T.LongType(), True),
        T.StructField("sum_abs", T.LongType(), True),
        T.StructField("first_sample", T.LongType(), True),
        T.StructField("last_sample", T.LongType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uid in pdf[id_col]:
                uid = int(uid)
                n = 600 + 97 * (uid % 5)
                t = np.arange(n, dtype=np.int64)
                x = ((uid * 13 + t * 7) % 2001) - 1000
                payload = build_flac(x, sample_rate=8000, block_size=512)
                dec = decode_flac(payload)
                got = dec["samples"]
                rows.append({
                    id_col: uid,
                    "n_samples": dec["n_samples"],
                    "n_frames": dec["n_frames"],
                    "sample_rate": dec["sample_rate"],
                    "md5_ok": int(dec["md5_ok"]),
                    "sum_samples": int(got.sum()),
                    "sum_abs": int(np.abs(got).sum()),
                    "first_sample": int(got[0]),
                    "last_sample": int(got[-1]),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    from big_data_analysis_for_stock_market_data_spark.operators import (
        ensure_parallelism,
    )

    return ensure_parallelism(users.select(id_col)).mapInPandas(
        run, schema=schema
    )


def audio_feature_stats(
    users: DataFrame, id_col: str = "user_id", window: int = 256
) -> DataFrame:
    """Decode->FEATURE-EXTRACT audio verification stage: the FLAC
    fixture waveform is decoded back to PCM, then per ``window``-sample
    frame the integer energy (sum of squares) and zero-crossing count
    (sign products < 0 at in-frame boundaries t % window != 0) are
    emitted — the audio analogue of the image feature extractors, with
    the decode path on the verified surface. One row per (id, frame)."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("win_idx", T.LongType(), False),
        T.StructField("n_in_window", T.LongType(), True),
        T.StructField("energy", T.LongType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uid in pdf[id_col]:
                uid = int(uid)
                n = 600 + 97 * (uid % 5)
                t = np.arange(n, dtype=np.int64)
                x = ((uid * 13 + t * 7) % 2001) - 1000
                dec = decode_flac(
                    build_flac(x, sample_rate=8000, block_size=512)
                )
                s = dec["samples"]
                widx = t // window
                cross = np.zeros(n, dtype=np.int64)
                cross[1:] = (s[:-1] * s[1:] < 0).astype(np.int64)
                cross[t % window == 0] = 0
                for w in range(int(widx.max()) + 1):
                    m = widx == w
                    rows.append({
                        id_col: uid,
                        "win_idx": w,
                        "n_in_window": int(m.sum()),
                        "energy": int((s[m] * s[m]).sum()),
                        "zero_crossings": int(cross[m].sum()),
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    from big_data_analysis_for_stock_market_data_spark.operators import (
        ensure_parallelism,
    )

    return ensure_parallelism(users.select(id_col)).mapInPandas(
        run, schema=schema
    )


def build_flac_stereo(
    left: "np.ndarray",
    right: "np.ndarray",
    sample_rate: int = 8000,
    block_size: int = 4096,
) -> bytes:
    """REAL STEREO FLAC encoder: per frame, tries all four channel
    assignments — independent L/R, left/side, right/side, mid/side
    (side channels at 17 bits) — encodes each with the subframe
    chooser and keeps the cheapest, exactly the decision the format
    intends. STREAMINFO MD5 is over interleaved L R L R 16-bit PCM.
    Roundtrip partner of ``decode_flac`` (which reconstructs every
    assignment)."""
    lx = np.asarray(left, dtype=np.int64)
    rx = np.asarray(right, dtype=np.int64)
    if len(lx) != len(rx):
        raise ValueError("left/right must be equal length")
    n_total = len(lx)
    inter = np.empty(2 * n_total, dtype=np.int64)
    inter[0::2] = lx
    inter[1::2] = rx
    md5 = hashlib.md5(inter.astype("<i2").tobytes()).digest()

    out = bytearray(b"fLaC")
    info = _MsbWriter()
    info.write(block_size, 16)
    info.write(block_size, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(sample_rate, 20)
    info.write(1, 3)  # channels - 1
    info.write(15, 5)  # bits - 1
    info.write(n_total, 36)
    si = info.done() + md5
    out += bytes([0x80]) + struct.pack(">I", len(si))[1:] + si

    frame_no = 0
    for start in range(0, n_total, block_size):
        lb = lx[start:start + block_size]
        rb = rx[start:start + block_size]
        bs = len(lb)
        side = lb - rb
        mid = (lb + rb) >> 1
        candidates = {
            1: ((lb, 16), (rb, 16)),       # independent
            8: ((lb, 16), (side, 17)),     # left/side
            9: ((side, 17), (rb, 16)),     # right/side
            10: ((mid, 16), (side, 17)),   # mid/side
        }
        best_code, best_writer = None, None
        for code, subs in candidates.items():
            w = _MsbWriter()
            for blk, depth in subs:
                _encode_subframe(w, blk, depth)
            w.flush_done = w.done()  # pads to byte
            if best_writer is None or len(w.flush_done) < len(
                best_writer.flush_done
            ):
                best_code, best_writer = code, w
        hdr = _MsbWriter()
        hdr.write(0b11111111111110, 14)
        hdr.write(0, 1)
        hdr.write(0, 1)
        hdr.write(0b0111, 4)
        hdr.write(0, 4)
        hdr.write(best_code, 4)  # channel assignment
        hdr.write(0b100, 3)
        hdr.write(0, 1)
        hbytes = bytearray(hdr.done())
        hbytes += _utf8_frame_number(frame_no)
        hbytes += struct.pack(">H", bs - 1)
        hbytes.append(_crc8(bytes(hbytes)))
        fbytes = bytes(hbytes) + best_writer.flush_done
        fbytes += struct.pack(">H", _crc16(fbytes))
        out += fbytes
        frame_no += 1
    return bytes(out)
