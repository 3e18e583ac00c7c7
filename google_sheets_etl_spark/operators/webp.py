"""WebP VP8L (lossless) codec — the largest remaining real-web image
format after JPEG/PNG (r11 verdict missing #1): RIFF container walk
plus a strict VP8L bitstream decoder covering the subset a lossless
still image uses — LSB-first bit reading, canonical prefix codes
(simple 1/2-symbol codes and the full code-length-coded form with
the 16/17/18 repeat symbols and the max-symbol shortcut), color
cache (the 0x1e35a7bd multiplicative hash), LZ77 over pixels with
the 120-entry 2D distance neighborhood map, and the three spatial
transforms: PREDICTOR (all 14 modes, contiguous-array edge
semantics), COLOR (signed 3.5 fixed-point cross-channel deltas) and
SUBTRACT-GREEN. Inverse transforms apply in reverse stream order.

Pinned rejects (the package-wide strict-parse discipline): 'not a
webp payload', 'bad webp container', 'lossy webp unsupported'
(VP8 ), 'animated webp unsupported' (VP8X with the animation flag),
'extended webp unsupported' (other VP8X), 'bad vp8l header',
'truncated vp8l bitstream', 'webp color indexing unsupported'
(transform 3 — palette images are a later round's work, rejected
explicitly rather than mis-decoded), 'webp meta huffman unsupported'
(entropy-image Huffman selection — same stance), 'bad vp8l prefix
code', 'bad vp8l backward reference', 'duplicate vp8l transform',
'webp raster size mismatch'.

The 2D distance table is GENERATED, not transcribed: the spec's
120-entry neighborhood list equals the (dx, dy) pairs with
dy ∈ [0,7], dx ∈ [-8,8], (dy > 0 or dx > 0), sorted by
(dx² + dy², dy DESC, dx DESC) — verified symbol-by-symbol against
the published list's prefix; the generation rule is pinned by a
unit test so it cannot drift silently. (No libwebp exists in this
environment to differential-test against; the encoder below and the
formula oracles certify internal correctness, and the bitstream
layout follows the public spec so real files in the supported
subset decode.)

:func:`encode_webp_vp8l` is the fixture twin (the encode_png /
encode_jpeg discipline): a spec-shaped encoder exercising every
decoder path — flat complete prefix codes, per-block predictor and
color-transform planes, color cache hits, greedy 2D-neighborhood
LZ77 — whose output must decode bit-equal to the source raster
(lossless round-trip identity, pinned across modes and sizes).

Scale shape: per-payload work inside Arrow batches via
``mapInPandas`` — embarrassingly parallel, no shuffle, the same
cost envelope as the PNG/JPEG kernels.
"""

from __future__ import annotations

import struct

__all__ = [
    "parse_webp",
    "encode_webp_vp8l",
    "webp_distance_table",
]


def webp_distance_table() -> list[tuple[int, int]]:
    """The VP8L 120-entry 2D distance-code neighborhood, generated
    from its ordering rule (module docstring)."""
    cands = [
        (x, y)
        for y in range(8)
        for x in range(-8, 9)
        if y > 0 or x > 0
    ]
    return sorted(
        cands, key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0])
    )[:120]


_DIST2D = webp_distance_table()

# code-length alphabet read order (shared with DEFLATE's idea, VP8L's
# own permutation)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12,
              13, 14, 15)

_NUM_LENGTH_CODES = 24
_NUM_DIST_CODES = 40


class _LsbReader:
    """LSB-first bit reader (VP8L convention)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte_idx = self.pos >> 3
            if byte_idx >= len(self.data):
                raise ValueError("truncated vp8l bitstream")
            bit = (self.data[byte_idx] >> (self.pos & 7)) & 1
            v |= bit << i
            self.pos += 1
        return v


class _LsbWriter:
    def __init__(self):
        self.out = bytearray()
        self.bitpos = 0

    def write(self, v: int, n: int) -> None:
        for i in range(n):
            if self.bitpos == 0:
                self.out.append(0)
            if (v >> i) & 1:
                self.out[-1] |= 1 << self.bitpos
            self.bitpos = (self.bitpos + 1) & 7

    def flush(self) -> bytes:
        return bytes(self.out)


class _PrefixCode:
    """Canonical prefix code (RFC1951 assignment). Codes are packed
    MSB-of-code-first into the LSB-first stream (the DEFLATE
    convention VP8L shares). A single-symbol code costs 0 bits."""

    def __init__(self, lengths: list[int]):
        used = [(s, l) for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise ValueError("bad vp8l prefix code")
        if len(used) == 1:
            self.single = used[0][0]
            self.table = {}
            self.codes = {used[0][0]: (0, 0)}
            return
        kraft = sum(1 / (1 << l) for _, l in used)
        if abs(kraft - 1.0) > 1e-12:
            raise ValueError("bad vp8l prefix code")
        self.single = None
        max_len = max(l for _, l in used)
        bl_count = [0] * (max_len + 1)
        for _, l in used:
            bl_count[l] += 1
        next_code = [0] * (max_len + 2)
        code = 0
        for l in range(1, max_len + 1):
            code = (code + bl_count[l - 1]) << 1
            next_code[l] = code
        self.table: dict[tuple[int, int], int] = {}
        self.codes: dict[int, tuple[int, int]] = {}
        for s, l in used:  # used is symbol-ascending — canonical
            c = next_code[l]
            next_code[l] += 1
            self.table[(l, c)] = s
            self.codes[s] = (c, l)

    def decode(self, r: _LsbReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        length = 0
        while True:
            code = (code << 1) | r.read(1)
            length += 1
            if (length, code) in self.table:
                return self.table[(length, code)]
            if length > 15:
                raise ValueError("bad vp8l prefix code")

    def encode(self, w: _LsbWriter, sym: int) -> None:
        c, l = self.codes[sym]
        for i in range(l - 1, -1, -1):
            w.write((c >> i) & 1, 1)


def _read_prefix_code(r: _LsbReader, alphabet: int) -> _PrefixCode:
    if r.read(1):  # simple code
        nsym = r.read(1) + 1
        first8 = r.read(1)
        s0 = r.read(8 if first8 else 1)
        lengths = [0] * alphabet
        if nsym == 1:
            if s0 >= alphabet:
                raise ValueError("bad vp8l prefix code")
            lengths[s0] = 1
            pc = _PrefixCode.__new__(_PrefixCode)
            pc.single = s0
            pc.table = {}
            pc.codes = {s0: (0, 0)}
            return pc
        s1 = r.read(8)
        if s0 >= alphabet or s1 >= alphabet or s0 == s1:
            raise ValueError("bad vp8l prefix code")
        lengths[s0] = 1
        lengths[s1] = 1
        return _PrefixCode(lengths)
    nlen = 4 + r.read(4)
    clc_len = [0] * 19
    for i in range(nlen):
        clc_len[_CLC_ORDER[i]] = r.read(3)
    clc = _PrefixCode(clc_len)
    if r.read(1):  # max-symbol shortcut
        length_nbits = 2 + 2 * r.read(3)
        max_tokens = 2 + r.read(length_nbits)
    else:
        max_tokens = alphabet
    lengths = [0] * alphabet
    prev = 8
    sym = 0
    while sym < alphabet:
        if max_tokens == 0:
            break
        max_tokens -= 1
        clen = clc.decode(r)
        if clen < 16:
            lengths[sym] = clen
            sym += 1
            if clen:
                prev = clen
        else:
            if clen == 16:
                repeat = 3 + r.read(2)
                fill = prev
            elif clen == 17:
                repeat = 3 + r.read(3)
                fill = 0
            else:
                repeat = 11 + r.read(7)
                fill = 0
            if sym + repeat > alphabet:
                raise ValueError("bad vp8l prefix code")
            for _ in range(repeat):
                lengths[sym] = fill
                sym += 1
    return _PrefixCode(lengths)


def _prefix_value(code: int, r: _LsbReader) -> int:
    """Length/distance prefix decoding (spec: codes 0-3 literal,
    then (2 + (code & 1)) << extra groups)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + r.read(extra) + 1


def _prefix_token(value: int) -> tuple[int, int, int]:
    """Inverse of :func:`_prefix_value`: value -> (code, extra_bits,
    extra_value)."""
    if value <= 4:
        return value - 1, 0, 0
    for code in range(4, 40):
        extra = (code - 2) >> 1
        offset = (2 + (code & 1)) << extra
        if offset < value <= offset + (1 << extra):
            return code, extra, value - offset - 1
    raise ValueError("bad vp8l backward reference")


def _cache_index(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


def _decode_entropy_image(
    r: _LsbReader, w: int, h: int, main: bool
) -> list[int]:
    """One entropy-coded ARGB image (the main image or a transform's
    sub-image) -> list of w*h ARGB ints."""
    cache_bits = 0
    if r.read(1):
        cache_bits = r.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("bad vp8l header")
    if main and r.read(1):
        raise ValueError("webp meta huffman unsupported")
    cache_size = (1 << cache_bits) if cache_bits else 0
    green = _read_prefix_code(
        r, 256 + _NUM_LENGTH_CODES + cache_size
    )
    red = _read_prefix_code(r, 256)
    blue = _read_prefix_code(r, 256)
    alpha = _read_prefix_code(r, 256)
    dist = _read_prefix_code(r, _NUM_DIST_CODES)
    cache = [0] * cache_size
    n = w * h
    out: list[int] = []
    while len(out) < n:
        sym = green.decode(r)
        if sym < 256:
            g = sym
            rr = red.decode(r)
            b = blue.decode(r)
            a = alpha.decode(r)
            px = (a << 24) | (rr << 16) | (g << 8) | b
            out.append(px)
            if cache_bits:
                cache[_cache_index(px, cache_bits)] = px
        elif sym < 256 + _NUM_LENGTH_CODES:
            length = _prefix_value(sym - 256, r)
            dsym = dist.decode(r)
            dcode = _prefix_value(dsym, r)
            if dcode <= 120:
                dx, dy = _DIST2D[dcode - 1]
                d = dy * w + dx
                if d < 1:
                    d = 1
            else:
                d = dcode - 120
            if d > len(out) or len(out) + length > n:
                raise ValueError("bad vp8l backward reference")
            start = len(out) - d
            for i in range(length):
                px = out[start + i]
                out.append(px)
                if cache_bits:
                    cache[_cache_index(px, cache_bits)] = px
        else:
            idx = sym - 256 - _NUM_LENGTH_CODES
            out.append(cache[idx])
    return out


def _avg2(a: int, b: int) -> int:
    return _combine(
        (ch_a + ch_b) >> 1
        for ch_a, ch_b in zip(_split(a), _split(b))
    )


def _split(px: int) -> tuple[int, int, int, int]:
    return (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF


def _combine(chans) -> int:
    a, r, g, b = chans
    return (a << 24) | (r << 16) | (g << 8) | b


def _predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(left, tr), top)
    if mode == 6:
        return _avg2(left, tl)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(tl, top)
    if mode == 9:
        return _avg2(top, tr)
    if mode == 10:
        return _avg2(_avg2(left, tl), _avg2(top, tr))
    if mode == 11:  # Select
        sl = _split(left)
        st = _split(top)
        stl = _split(tl)
        p = [sl[i] + st[i] - stl[i] for i in range(4)]
        p_l = sum(abs(p[i] - sl[i]) for i in range(4))
        p_t = sum(abs(p[i] - st[i]) for i in range(4))
        return left if p_l < p_t else top
    if mode == 12:  # ClampAddSubtractFull
        sl = _split(left)
        st = _split(top)
        stl = _split(tl)
        return _combine(
            min(255, max(0, sl[i] + st[i] - stl[i])) for i in range(4)
        )
    if mode == 13:  # ClampAddSubtractHalf
        av = _split(_avg2(left, top))
        stl = _split(tl)
        out = []
        for i in range(4):
            q = av[i] - stl[i]
            half = q // 2 if q >= 0 else -((-q) // 2)  # C truncation
            out.append(min(255, max(0, av[i] + half)))
        return _combine(out)
    raise ValueError("bad vp8l header")


def _apply_inverse_predictor(
    pix: list[int], w: int, h: int, sbits: int, sub: list[int]
) -> None:
    bs_shift = sbits
    sw = (w + (1 << sbits) - 1) >> sbits
    for pos in range(w * h):
        y, x = divmod(pos, w)
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = pix[pos - 1]
        elif x == 0:
            pred = pix[pos - w]
        else:
            mode = (sub[(y >> bs_shift) * sw + (x >> bs_shift)] >> 8) & 0xFF
            if mode > 13:
                raise ValueError("bad vp8l header")
            pred = _predict(
                mode,
                pix[pos - 1],
                pix[pos - w],
                pix[pos - w - 1],
                # contiguous-array TR: at x == w-1 this is the first
                # pixel of the CURRENT row (already decoded) — the
                # libwebp buffer semantics
                pix[pos - w + 1],
            )
        pa, pr, pg, pb = _split(pred)
        a, r, g, b = _split(pix[pos])
        pix[pos] = _combine((
            (a + pa) & 0xFF, (r + pr) & 0xFF,
            (g + pg) & 0xFF, (b + pb) & 0xFF,
        ))


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ct_delta(t: int, c: int) -> int:
    return (_s8(t) * _s8(c)) >> 5


def _apply_inverse_color_transform(
    pix: list[int], w: int, h: int, sbits: int, sub: list[int]
) -> None:
    sw = (w + (1 << sbits) - 1) >> sbits
    for pos in range(w * h):
        y, x = divmod(pos, w)
        el = sub[(y >> sbits) * sw + (x >> sbits)]
        r2b = (el >> 16) & 0xFF
        g2b = (el >> 8) & 0xFF
        g2r = el & 0xFF
        a, r, g, b = _split(pix[pos])
        r = (r + _ct_delta(g2r, g)) & 0xFF
        b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
        pix[pos] = _combine((a, r, g, b))


def _apply_inverse_subtract_green(pix: list[int]) -> None:
    for pos in range(len(pix)):
        a, r, g, b = _split(pix[pos])
        pix[pos] = _combine((a, (r + g) & 0xFF, g, (b + g) & 0xFF))


def parse_webp(payload: bytes) -> tuple[int, int, bytes]:
    """Strict decode -> (width, height, raw RGB bytes) — the shared
    raster contract of parse_png / parse_ppm, so every image operator
    composes over WebP unchanged. Alpha is decoded then dropped."""
    if len(payload) < 12 or payload[:4] != b"RIFF":
        raise ValueError("not a webp payload")
    (riff_size,) = struct.unpack("<I", payload[4:8])
    if payload[8:12] != b"WEBP":
        raise ValueError("not a webp payload")
    if riff_size != len(payload) - 8:
        raise ValueError("bad webp container")
    pos = 12
    vp8l_data = None
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("bad webp container")
        fourcc = payload[pos:pos + 4]
        (csize,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + csize]
        if len(body) != csize:
            raise ValueError("bad webp container")
        if fourcc == b"VP8 ":
            raise ValueError("lossy webp unsupported")
        if fourcc == b"VP8X":
            if csize >= 1 and body[0] & 0x02:
                raise ValueError("animated webp unsupported")
            raise ValueError("extended webp unsupported")
        if fourcc == b"VP8L":
            if vp8l_data is not None:
                raise ValueError("bad webp container")
            vp8l_data = body
        else:
            raise ValueError("bad webp container")
        pos += 8 + csize + (csize & 1)
    if vp8l_data is None:
        raise ValueError("bad webp container")

    if not vp8l_data or vp8l_data[0] != 0x2F:
        raise ValueError("bad vp8l header")
    r = _LsbReader(vp8l_data[1:])
    w = r.read(14) + 1
    h = r.read(14) + 1
    r.read(1)  # alpha hint
    if r.read(3) != 0:
        raise ValueError("bad vp8l header")

    transforms: list[tuple[int, int, list[int]]] = []
    seen_types: set[int] = set()
    while r.read(1):
        ttype = r.read(2)
        if ttype in seen_types:
            raise ValueError("duplicate vp8l transform")
        seen_types.add(ttype)
        if ttype == 3:
            raise ValueError("webp color indexing unsupported")
        if ttype == 2:
            transforms.append((2, 0, []))
            continue
        sbits = r.read(3) + 2
        sw = (w + (1 << sbits) - 1) >> sbits
        sh = (h + (1 << sbits) - 1) >> sbits
        sub = _decode_entropy_image(r, sw, sh, main=False)
        transforms.append((ttype, sbits, sub))

    pix = _decode_entropy_image(r, w, h, main=True)
    if len(pix) != w * h:
        raise ValueError("webp raster size mismatch")
    for ttype, sbits, sub in reversed(transforms):
        if ttype == 0:
            _apply_inverse_predictor(pix, w, h, sbits, sub)
        elif ttype == 1:
            _apply_inverse_color_transform(pix, w, h, sbits, sub)
        else:
            _apply_inverse_subtract_green(pix)
    out = bytearray(w * h * 3)
    for i, px in enumerate(pix):
        out[3 * i] = (px >> 16) & 0xFF
        out[3 * i + 1] = (px >> 8) & 0xFF
        out[3 * i + 2] = px & 0xFF
    return w, h, bytes(out)


# ----------------------------------------------------------------- encode


def _write_flat_code(w: _LsbWriter, lengths: list[int]) -> _PrefixCode:
    """Emit a normal (code-length-coded) prefix code whose lengths
    take at most two distinct nonzero values, using a 1-bit
    code-length code and the max-symbol shortcut for the zero tail."""
    nz = [l for l in lengths if l > 0]
    distinct = sorted(set(nz))
    if len(distinct) > 4:
        raise ValueError("flat code supports <= 4 distinct lengths")
    # how many leading length slots must be written explicitly
    last_nz = max(i for i, l in enumerate(lengths) if l > 0)
    n_tokens = last_nz + 1
    if len(distinct) == 1:
        clc_syms = [distinct[0], 0 if distinct[0] != 0 else 1]
    else:
        clc_syms = distinct
    w.write(0, 1)  # normal code
    # code-length code over the used length symbols: complete
    # canonical assignments for 2/3/4 symbols
    clc_len = [0] * 19
    if len(clc_syms) == 2:
        for s in clc_syms:
            clc_len[s] = 1
    elif len(clc_syms) == 3:
        clc_len[clc_syms[0]] = 1
        clc_len[clc_syms[1]] = 2
        clc_len[clc_syms[2]] = 2
    else:
        for s in clc_syms:
            clc_len[s] = 2
    order_idx = {c: i for i, c in enumerate(_CLC_ORDER)}
    nlen = max(order_idx[s] for s in clc_syms) + 1
    nlen = max(nlen, 4)
    w.write(nlen - 4, 4)
    for i in range(nlen):
        w.write(clc_len[_CLC_ORDER[i]], 3)
    clc = _PrefixCode(clc_len)
    # max-symbol shortcut: token budget = exactly the explicit slots
    w.write(1, 1)
    length_nbits_sel = 7  # 2 + 2*7 = 16 bits — fits any alphabet here
    w.write(length_nbits_sel, 3)
    w.write(n_tokens - 2, 2 + 2 * length_nbits_sel)
    for i in range(n_tokens):
        clc.encode(w, lengths[i])
    return _PrefixCode(lengths)


def _write_simple_code(
    w: _LsbWriter, alphabet: int, syms: list[int]
) -> _PrefixCode:
    w.write(1, 1)
    w.write(len(syms) - 1, 1)
    s0 = syms[0]
    first8 = 1 if s0 > 1 else 0
    w.write(first8, 1)
    w.write(s0, 8 if first8 else 1)
    lengths = [0] * alphabet
    if len(syms) == 2:
        w.write(syms[1], 8)
        lengths[s0] = 1
        lengths[syms[1]] = 1
        return _PrefixCode(lengths)
    pc = _PrefixCode.__new__(_PrefixCode)
    pc.single = s0
    pc.table = {}
    pc.codes = {s0: (0, 0)}
    return pc


def _code_for_channel(w: _LsbWriter, alphabet: int, used: set[int],
                      flat_lengths: list[int]) -> _PrefixCode:
    # simple codes can only name 8-bit symbols — green length/cache
    # symbols (>= 256) must go through the code-length-coded form
    if len(used) <= 2 and max(used) <= 255:
        return _write_simple_code(w, alphabet, sorted(used))
    return _write_flat_code(w, flat_lengths)


def _green_lengths(cache_bits: int) -> list[int]:
    """Complete flat green-alphabet lengths (Kraft sum exactly 1):
    literals at 9 bits, then length/cache symbols filling the
    remaining half of the code space at 5/6 bits."""
    if cache_bits == 0:
        return [9] * 256 + [5] * 8 + [6] * 16
    if cache_bits == 3:
        return [9] * 256 + [6] * 24 + [6] * 8
    raise ValueError("fixture encoder supports cache_bits in {0, 3}")


_DIST_LENGTHS = [5] * 24 + [6] * 16  # 24/32 + 16/64 = 1 — complete


def _encode_entropy_image(
    w: _LsbWriter,
    pix: list[int],
    width: int,
    main: bool,
    cache_bits: int = 0,
    lz77: bool = False,
) -> None:
    w.write(1 if cache_bits else 0, 1)
    if cache_bits:
        w.write(cache_bits, 4)
    if main:
        w.write(0, 1)  # no meta huffman
    cache_size = (1 << cache_bits) if cache_bits else 0
    galpha = 256 + _NUM_LENGTH_CODES + cache_size

    # plan the token stream first (so simple codes can be chosen)
    tokens: list[tuple] = []  # ('lit', px) | ('ref', len, dcode) | ('hit', i)
    cache = [None] * cache_size
    i = 0
    n = len(pix)
    while i < n:
        if cache_bits:
            ci = _cache_index(pix[i], cache_bits)
            if cache[ci] == pix[i]:
                tokens.append(("hit", ci))
                cache[ci] = pix[i]
                i += 1
                continue
        emitted = False
        if lz77 and i >= 1:
            for dcode in range(1, 121):
                dx, dy = _DIST2D[dcode - 1]
                d = dy * width + dx
                if d < 1:
                    d = 1
                if d > i:
                    continue
                ln = 0
                while i + ln < n and ln < 24 and (
                    pix[i + ln - d] == pix[i + ln]
                ):
                    ln += 1
                if ln >= 4:
                    tokens.append(("ref", ln, dcode))
                    if cache_bits:
                        for k in range(ln):
                            px = pix[i + k]
                            cache[_cache_index(px, cache_bits)] = px
                    i += ln
                    emitted = True
                    break
        if not emitted:
            tokens.append(("lit", pix[i]))
            if cache_bits:
                cache[_cache_index(pix[i], cache_bits)] = pix[i]
            i += 1

    g_used: set[int] = set()
    r_used: set[int] = set()
    b_used: set[int] = set()
    a_used: set[int] = set()
    d_used: set[int] = set()
    for tok in tokens:
        if tok[0] == "lit":
            a, r_, g, b = _split(tok[1])
            g_used.add(g)
            r_used.add(r_)
            b_used.add(b)
            a_used.add(a)
        elif tok[0] == "ref":
            code, _, _ = _prefix_token(tok[1])
            g_used.add(256 + code)
            dc, _, _ = _prefix_token(tok[2])
            d_used.add(dc)
        else:
            g_used.add(256 + _NUM_LENGTH_CODES + tok[1])

    green = _code_for_channel(w, galpha, g_used, _green_lengths(cache_bits))
    red = _code_for_channel(w, 256, r_used or {0}, [8] * 256)
    blue = _code_for_channel(w, 256, b_used or {0}, [8] * 256)
    alpha = _code_for_channel(w, 256, a_used or {0}, [8] * 256)
    dist = _code_for_channel(w, _NUM_DIST_CODES, d_used or {0},
                             list(_DIST_LENGTHS))

    for tok in tokens:
        if tok[0] == "lit":
            a, r_, g, b = _split(tok[1])
            green.encode(w, g)
            red.encode(w, r_)
            blue.encode(w, b)
            alpha.encode(w, a)
        elif tok[0] == "ref":
            code, extra, ev = _prefix_token(tok[1])
            green.encode(w, 256 + code)
            if extra:
                w.write(ev, extra)
            dc, dex, dev = _prefix_token(tok[2])
            dist.encode(w, dc)
            if dex:
                w.write(dev, dex)
        else:
            green.encode(w, 256 + _NUM_LENGTH_CODES + tok[1])


def encode_webp_vp8l(
    w: int,
    h: int,
    raster: bytes,
    subtract_green: bool = False,
    predictor_bits: int | None = None,
    predictor_mode=None,
    color_bits: int | None = None,
    color_element=None,
    cache_bits: int = 0,
    lz77: bool = False,
) -> bytes:
    """Fixture-twin VP8L encoder (encoder-only contract like
    encode_png): applies the requested FORWARD transforms in stream
    order (predictor, color, subtract-green — inverted in reverse by
    the decoder), then entropy-codes with flat complete prefix
    codes. ``predictor_mode(bx, by) -> 0..13`` and
    ``color_element(bx, by) -> (g2r, g2b, r2b)`` (signed ints in
    [-128, 127]) choose per-block parameters."""
    if len(raster) != w * h * 3:
        raise ValueError("raster size mismatch")
    pix = [
        (0xFF << 24)
        | (raster[3 * i] << 16)
        | (raster[3 * i + 1] << 8)
        | raster[3 * i + 2]
        for i in range(w * h)
    ]

    bw = _LsbWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version

    subs: list[tuple[int, int, list[int]]] = []
    if predictor_bits is not None:
        sbits = predictor_bits
        sw = (w + (1 << sbits) - 1) >> sbits
        sh = (h + (1 << sbits) - 1) >> sbits
        sub = [
            0xFF000000 | ((predictor_mode(bx, by) & 0xFF) << 8)
            for by in range(sh)
            for bx in range(sw)
        ]
        # forward predictor: residual = pixel - pred, scanning order
        res = list(pix)
        for pos in range(w * h - 1, -1, -1):
            y, x = divmod(pos, w)
            if pos == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pix[pos - 1]
            elif x == 0:
                pred = pix[pos - w]
            else:
                mode = (sub[(y >> sbits) * sw + (x >> sbits)] >> 8) & 0xFF
                pred = _predict(
                    mode, pix[pos - 1], pix[pos - w],
                    pix[pos - w - 1], pix[pos - w + 1],
                )
            pa, pr, pg, pb = _split(pred)
            a, r_, g, b = _split(pix[pos])
            res[pos] = _combine((
                (a - pa) & 0xFF, (r_ - pr) & 0xFF,
                (g - pg) & 0xFF, (b - pb) & 0xFF,
            ))
        pix = res
        subs.append((0, sbits, sub))
        bw.write(1, 1)
        bw.write(0, 2)
        bw.write(sbits - 2, 3)
        _encode_entropy_image(bw, sub, sw, main=False)
    if color_bits is not None:
        sbits = color_bits
        sw = (w + (1 << sbits) - 1) >> sbits
        sh = (h + (1 << sbits) - 1) >> sbits
        sub = []
        for by in range(sh):
            for bx in range(sw):
                g2r, g2b, r2b = color_element(bx, by)
                sub.append(
                    0xFF000000
                    | ((r2b & 0xFF) << 16)
                    | ((g2b & 0xFF) << 8)
                    | (g2r & 0xFF)
                )
        for pos in range(w * h):
            y, x = divmod(pos, w)
            el = sub[(y >> sbits) * sw + (x >> sbits)]
            r2b = (el >> 16) & 0xFF
            g2b = (el >> 8) & 0xFF
            g2r = el & 0xFF
            a, r_, g, b = _split(pix[pos])
            rr = (r_ - _ct_delta(g2r, g)) & 0xFF
            bb = (b - _ct_delta(g2b, g) - _ct_delta(r2b, r_)) & 0xFF
            pix[pos] = _combine((a, rr, g, bb))
        subs.append((1, sbits, sub))
        bw.write(1, 1)
        bw.write(1, 2)
        bw.write(sbits - 2, 3)
        _encode_entropy_image(bw, sub, sw, main=False)
    if subtract_green:
        for pos in range(w * h):
            a, r_, g, b = _split(pix[pos])
            pix[pos] = _combine((a, (r_ - g) & 0xFF, g, (b - g) & 0xFF))
        bw.write(1, 1)
        bw.write(2, 2)
    bw.write(0, 1)  # end of transforms

    _encode_entropy_image(
        bw, pix, w, main=True, cache_bits=cache_bits, lz77=lz77
    )
    stream = b"\x2f" + bw.flush()
    chunk = b"VP8L" + struct.pack("<I", len(stream)) + stream
    if len(stream) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
