"""Pure-python WebP-lossless (VP8L) codec — the round-12 VERDICT #1
coverage hole: WebP is a large and growing share of modern web crawls
and previously quarantined as undecodable.  Like :mod:`.jpeg` and the
PNG/GIF/BMP decoders in :mod:`.multimodal`, everything here is
stdlib + numpy from the PUBLIC bitstream layout (RIFF container;
VP8L = LSB-first bit stream, canonical Huffman codes read MSB-first
by tree descent, LZ77 backward references with a 2-D neighborhood
distance map, color cache, and four reversible transforms: predictor,
cross-color, subtract-green, color-indexing with sub-byte bundling)
— no libwebp/Pillow lineage.

Decoder scope (strict — malformed or truncated input returns None,
the GIF truncation rule, so arbitrary binary never mis-routes):
the full VP8L still-image surface: simple and normal Huffman codes
(incl. code-length codes with 16/17/18 repeats and the max_symbol
short form), 1-5 Huffman groups via the meta-Huffman image, literals,
backward references (both plane-coded and direct distances), color
cache, and all four transforms (all 14 predictor modes).

Encoder scope (:func:`encode_webp_lossless`): the fixture-synthesis
half — literal streams under real canonical Huffman codes, optional
subtract-green / constant-mode predictor / cross-color / palette
(with bundling) transforms, optional color cache, optional left-run
LZ77, and an optional two-group META-HUFFMAN split — enough to
exercise every decoder branch end to end in tests and to let the
catalog oracle replay a lossless roundtrip from first principles.

The 120-entry distance map is GENERATED from the spec's ordering rule
(all (dx, dy) neighbors sorted by squared distance, nearer rows
first, small |dx| first, positive dx before negative) and asserted
against the documented table prefix in tests; only this module's own
encoder/decoder pair depends on it in-container, so the pair is
internally consistent by construction.

Scale shape: decode runs inside the shared 1->1 ``mapInPandas``
dispatch of :mod:`.multimodal` (Arrow batches, blobs never shuffle);
this module is pure per-blob compute.
"""

from __future__ import annotations

import struct
from hashlib import md5 as _md5

import numpy as np

# --------------------------------------------------------------------------
# bit I/O (VP8L: LSB-first within bytes)
# --------------------------------------------------------------------------


class _BitReader:
    __slots__ = ("data", "pos", "nbits", "acc")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.nbits = 0
        self.acc = 0

    def read(self, n: int) -> "int | None":
        while self.nbits < n:
            if self.pos >= len(self.data):
                return None
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def getvalue(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


# --------------------------------------------------------------------------
# canonical Huffman (codes read MSB-first by tree descent)
# --------------------------------------------------------------------------


class _HuffmanTree:
    """Canonical-code decoder state.  ``single`` marks the degenerate
    one-symbol tree, which consumes ZERO bits per read."""

    __slots__ = ("single", "first", "count", "offset", "syms", "maxlen")

    def __init__(self, lengths: "list[int]") -> None:
        nz = [(ln, s) for s, ln in enumerate(lengths) if ln > 0]
        if len(nz) == 1:
            self.single = nz[0][1]
            return
        self.single = None
        maxlen = max(ln for ln, _ in nz)
        count = [0] * (maxlen + 1)
        for ln, _ in nz:
            count[ln] += 1
        first = [0] * (maxlen + 2)
        offset = [0] * (maxlen + 2)
        code = 0
        total = 0
        for ln in range(1, maxlen + 1):
            code = (code + count[ln - 1]) << 1
            first[ln] = code
            offset[ln] = total
            total += count[ln]
        self.first, self.count, self.offset = first, count, offset
        self.syms = [s for _, s in sorted(nz)]
        self.maxlen = maxlen

    @staticmethod
    def valid(lengths: "list[int]") -> bool:
        """Kraft check: the multiset of lengths must form a COMPLETE
        prefix code (or a single symbol)."""
        nz = [ln for ln in lengths if ln > 0]
        if not nz:
            return False
        if len(nz) == 1:
            return True
        return sum(1 << (15 - ln) for ln in nz if ln <= 15) == (1 << 15) and all(
            ln <= 15 for ln in nz
        )

    def read(self, br: _BitReader) -> "int | None":
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, self.maxlen + 1):
            b = br.read(1)
            if b is None:
                return None
            code = (code << 1) | b
            idx = code - self.first[ln]
            if 0 <= idx < self.count[ln]:
                return self.syms[self.offset[ln] + idx]
        return None


_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _read_huffman_code(br: _BitReader, alphabet_size: int) -> "_HuffmanTree | None":
    simple = br.read(1)
    if simple is None:
        return None
    lengths = [0] * alphabet_size
    if simple:
        num_symbols = br.read(1)
        first_8bit = br.read(1)
        if num_symbols is None or first_8bit is None:
            return None
        s0 = br.read(8 if first_8bit else 1)
        if s0 is None or s0 >= alphabet_size:
            return None
        lengths[s0] = 1
        if num_symbols == 1:  # two symbols
            s1 = br.read(8)
            if s1 is None or s1 >= alphabet_size or s1 == s0:
                return None
            lengths[s1] = 1
        return _HuffmanTree(lengths)
    # normal: code-length code
    num_cl = br.read(4)
    if num_cl is None:
        return None
    num_cl += 4
    cl_lengths = [0] * 19
    for i in range(num_cl):
        v = br.read(3)
        if v is None:
            return None
        cl_lengths[_CL_ORDER[i]] = v
    if not _HuffmanTree.valid(cl_lengths):
        return None
    cl_tree = _HuffmanTree(cl_lengths)
    use_max = br.read(1)
    if use_max is None:
        return None
    if use_max:
        nb = br.read(3)
        if nb is None:
            return None
        length_nbits = 2 + 2 * nb
        ms = br.read(length_nbits)
        if ms is None:
            return None
        max_symbol = 2 + ms
    else:
        max_symbol = alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_tree.read(br)
        if cl is None:
            return None
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl != 0:
                prev_len = cl
        elif cl == 16:
            n = br.read(2)
            if n is None:
                return None
            for _ in range(3 + n):
                if symbol >= alphabet_size:
                    return None
                lengths[symbol] = prev_len
                symbol += 1
        elif cl == 17:
            n = br.read(3)
            if n is None:
                return None
            symbol += 3 + n
        else:  # 18
            n = br.read(7)
            if n is None:
                return None
            symbol += 11 + n
        if symbol > alphabet_size:
            return None
    if not _HuffmanTree.valid(lengths):
        return None
    return _HuffmanTree(lengths)


# --------------------------------------------------------------------------
# LZ77 prefix coding + the 2-D neighborhood distance map
# --------------------------------------------------------------------------


def _prefix_decode(br: _BitReader, code: int) -> "int | None":
    """length/distance prefix decoding: codes 0..3 are values 1..4;
    beyond that, (2 + (code & 1)) << extra_bits + extra + 1."""
    if code < 4:
        return code + 1
    extra_bits = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra_bits
    extra = br.read(extra_bits)
    if extra is None:
        return None
    return offset + extra + 1


def _prefix_encode(value: int) -> "tuple[int, int, int]":
    """(code, extra_value, extra_bits) for a length/distance value —
    the exact inverse of :func:`_prefix_decode` (codes 2m / 2m+1 cover
    x = value-1 in [2^m, 3*2^(m-1)) and [3*2^(m-1), 2^(m+1)))."""
    if value <= 4:
        return value - 1, 0, 0
    x = value - 1
    m = x.bit_length() - 1
    eb = m - 1
    if x < (3 << eb):
        return 2 * m, x - (2 << eb), eb
    return 2 * m + 1, x - (3 << eb), eb


def _distance_map() -> "list[tuple[int, int]]":
    """The 120 plane codes: (dx, dy) neighbors ordered by squared
    distance, nearer rows (larger dy? no — SMALLER dy*dy+dx*dx) first;
    within a ring, larger dy first, then smaller |dx|, positive dx
    before negative — the ordering rule of the published table (the
    prefix is asserted in tests/test_webp.py)."""
    cand = []
    for dy in range(0, 9):
        for dx in range(-8, 9):
            if dy == 0 and dx <= 0:
                continue
            cand.append((dx, dy))
    cand.sort(key=lambda p: (p[0] ** 2 + p[1] ** 2, -p[1], abs(p[0]), p[0] < 0))
    return cand[:120]


_DIST_MAP = _distance_map()


def _plane_to_distance(code: int, xsize: int) -> int:
    """1-based distance code -> linear distance."""
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    dist = dy * xsize + dx
    return dist if dist >= 1 else 1


# --------------------------------------------------------------------------
# entropy-coded image (the recursive core)
# --------------------------------------------------------------------------

_NUM_LENGTH_CODES = 24
_CACHE_MULT = 0x1E35A7BD


def _read_entropy_image(
    br: _BitReader, w: int, h: int, level0: bool
) -> "tuple[np.ndarray, list] | None":
    """Returns (pixels as (h*w, 4) uint16 [a, r, g, b], transforms)
    where transforms is the read-order list of (type, data) — empty
    unless level0."""
    transforms: "list[tuple[int, object]]" = []
    if level0:
        seen = set()
        while True:
            t = br.read(1)
            if t is None:
                return None
            if not t:
                break
            ttype = br.read(2)
            if ttype is None or ttype in seen:
                return None
            seen.add(ttype)
            if ttype == 2:  # subtract-green: no data
                transforms.append((2, None))
                continue
            if ttype in (0, 1):  # predictor / cross-color
                sb = br.read(3)
                if sb is None:
                    return None
                size_bits = sb + 2
                bw = -(-w // (1 << size_bits))
                bh = -(-h // (1 << size_bits))
                sub = _read_entropy_image(br, bw, bh, False)
                if sub is None:
                    return None
                transforms.append((ttype, (size_bits, sub[0], bw, bh)))
                continue
            # ttype == 3: color indexing
            ps = br.read(8)
            if ps is None:
                return None
            palette_size = ps + 1
            sub = _read_entropy_image(br, palette_size, 1, False)
            if sub is None:
                return None
            pal = sub[0].astype(np.int64)
            # palette entries are delta-coded per channel
            pal = np.cumsum(pal, axis=0) & 0xFF
            if palette_size <= 2:
                xbits = 3
            elif palette_size <= 4:
                xbits = 2
            elif palette_size <= 16:
                xbits = 1
            else:
                xbits = 0
            transforms.append((3, (pal.astype(np.uint16), xbits, w)))
            if xbits:
                w = -(-w // (1 << xbits))  # bundled: coded width shrinks
    # color cache
    cc = br.read(1)
    if cc is None:
        return None
    cache_bits = 0
    if cc:
        cache_bits = br.read(4)
        if cache_bits is None or not 1 <= cache_bits <= 11:
            return None
    cache = [0] * (1 << cache_bits) if cache_bits else None
    # meta-Huffman (level 0 only)
    group_idx = None
    n_groups = 1
    if level0:
        mh = br.read(1)
        if mh is None:
            return None
        if mh:
            hb = br.read(3)
            if hb is None:
                return None
            huff_bits = hb + 2
            hw = -(-w // (1 << huff_bits))
            hh = -(-h // (1 << huff_bits))
            sub = _read_entropy_image(br, hw, hh, False)
            if sub is None:
                return None
            meta = sub[0]
            gi = (meta[:, 1].astype(np.int64) << 8) | meta[:, 2].astype(np.int64)
            n_groups = int(gi.max()) + 1 if gi.size else 1
            group_idx = (gi.reshape(hh, hw), huff_bits)
    groups = []
    green_alphabet = 256 + _NUM_LENGTH_CODES + (1 << cache_bits if cache_bits else 0)
    for _ in range(n_groups):
        trees = []
        for alpha_size in (green_alphabet, 256, 256, 256, 40):
            t = _read_huffman_code(br, alpha_size)
            if t is None:
                return None
            trees.append(t)
        groups.append(trees)
    # pixel decode
    n = w * h
    px = np.zeros((n, 4), dtype=np.uint16)  # a, r, g, b
    pos = 0
    while pos < n:
        if group_idx is not None:
            gi_img, hb = group_idx
            y, x = divmod(pos, w)
            g = int(gi_img[y >> hb, x >> hb])
        else:
            g = 0
        green_t, red_t, blue_t, alpha_t, dist_t = groups[g]
        s = green_t.read(br)
        if s is None:
            return None
        if s < 256:
            r = red_t.read(br)
            b = blue_t.read(br)
            a = alpha_t.read(br)
            if r is None or b is None or a is None:
                return None
            px[pos] = (a, r, s, b)
            if cache is not None:
                argb = (a << 24) | (r << 16) | (s << 8) | b
                cache[((_CACHE_MULT * argb) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
            pos += 1
        elif s < 256 + _NUM_LENGTH_CODES:
            length = _prefix_decode(br, s - 256)
            dcode_sym = dist_t.read(br)
            if length is None or dcode_sym is None:
                return None
            dcode = _prefix_decode(br, dcode_sym)
            if dcode is None:
                return None
            dist = _plane_to_distance(dcode, w)
            if dist > pos or pos + length > n:
                return None
            for i in range(length):
                px[pos] = px[pos - dist]
                if cache is not None:
                    a, r, gg, b = (int(v) for v in px[pos])
                    argb = (a << 24) | (r << 16) | (gg << 8) | b
                    cache[
                        ((_CACHE_MULT * argb) & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = argb
                pos += 1
        else:
            if cache is None:
                return None
            idx = s - 256 - _NUM_LENGTH_CODES
            argb = cache[idx]
            px[pos] = (
                (argb >> 24) & 0xFF,
                (argb >> 16) & 0xFF,
                (argb >> 8) & 0xFF,
                argb & 0xFF,
            )
            pos += 1
    return px, transforms


# --------------------------------------------------------------------------
# inverse transforms
# --------------------------------------------------------------------------


def _avg2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (a + b) >> 1


def _predict(mode: int, L, T, TL, TR) -> np.ndarray:
    if mode == 0:
        return np.array([255, 0, 0, 0], dtype=np.int64)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    if mode == 11:  # Select
        p = L + T - TL
        pL = int(np.abs(p - L).sum())
        pT = int(np.abs(p - T).sum())
        return L if pL < pT else T
    if mode == 12:  # ClampAddSubtractFull
        return np.clip(L + T - TL, 0, 255)
    # 13: ClampAddSubtractHalf — the halving truncates TOWARD ZERO
    # (C integer division), not floorward like >>
    ave = _avg2(L, T)
    d = ave - TL
    return np.clip(ave + np.sign(d) * (np.abs(d) >> 1), 0, 255)


def _apply_inverse_transforms(
    px: np.ndarray, transforms: "list", w: int, h: int
) -> "tuple[np.ndarray, int] | None":
    """Apply inverse transforms in reverse read order; returns the
    final (h*w, 4) int64 pixels and the (possibly restored) width."""
    px = px.astype(np.int64)
    for ttype, data in reversed(transforms):
        if ttype == 2:  # add green back to red and blue
            px[:, 1] = (px[:, 1] + px[:, 2]) & 0xFF
            px[:, 3] = (px[:, 3] + px[:, 2]) & 0xFF
        elif ttype == 1:  # cross-color inverse
            size_bits, elems, bw, bh = data
            img = px.reshape(h, w, 4)
            em = elems.reshape(bh, bw, 4).astype(np.int64)
            for y in range(h):
                for x in range(w):
                    e = em[y >> size_bits, x >> size_bits]
                    g2r = np.int8(e[3])  # blue channel: green_to_red
                    g2b = np.int8(e[2])  # green channel: green_to_blue
                    r2b = np.int8(e[1])  # red channel:  red_to_blue
                    a, r, g, b = img[y, x]
                    g_s = np.int8(g)
                    r = (r + ((int(g2r) * int(g_s)) >> 5)) & 0xFF
                    r_s = np.int8(r)
                    b = (b + ((int(g2b) * int(g_s)) >> 5)) & 0xFF
                    b = (b + ((int(r2b) * int(r_s)) >> 5)) & 0xFF
                    img[y, x] = (a, r, g, b)
            px = img.reshape(-1, 4)
        elif ttype == 0:  # predictor inverse (serial scan)
            size_bits, modes, bw, bh = data
            img = px.reshape(h, w, 4)
            mm = modes.reshape(bh, bw, 4)
            black = np.array([255, 0, 0, 0], dtype=np.int64)
            for y in range(h):
                for x in range(w):
                    if x == 0 and y == 0:
                        pred = black
                    elif y == 0:
                        pred = img[0, x - 1]
                    elif x == 0:
                        pred = img[y - 1, 0]
                    else:
                        mode = int(mm[y >> size_bits, x >> size_bits, 2])
                        if mode > 13:
                            return None
                        L = img[y, x - 1]
                        T = img[y - 1, x]
                        TL = img[y - 1, x - 1]
                        TR = img[y - 1, x + 1] if x + 1 < w else img[y, 0]
                        pred = _predict(mode, L, T, TL, TR)
                    img[y, x] = (img[y, x] + pred) & 0xFF
            px = img.reshape(-1, 4)
        elif ttype == 3:  # color indexing (+ unbundling)
            pal, xbits, full_w = data
            if xbits:
                cw = -(-full_w // (1 << xbits))
                bits = 8 >> xbits
                mask = (1 << bits) - 1
                per = 1 << xbits
                packed = px.reshape(h, cw, 4)
                idx = np.zeros((h, full_w), dtype=np.int64)
                for x in range(full_w):
                    green = packed[:, x >> xbits, 2]
                    idx[:, x] = (green >> ((x & (per - 1)) * bits)) & mask
                w = full_w
            else:
                idx = px[:, 2].reshape(h, w)
            if int(idx.max(initial=0)) >= pal.shape[0]:
                return None
            px = pal.astype(np.int64)[idx].reshape(-1, 4)
    return px, w


# --------------------------------------------------------------------------
# public decoder
# --------------------------------------------------------------------------


def decode_webp_lossless(content: bytes) -> "np.ndarray | None":
    """Strict VP8L decode: returns (h, w, 4) uint8 [a, r, g, b] or
    None when the bytes are not a well-formed lossless WebP (bad
    container, wrong signature/version, truncated stream, invalid
    Huffman code, out-of-range reference/index, trailing-size
    mismatch...)."""
    # minimum: RIFF(12) + VP8L chunk header(8) + signature(1) + the
    # 4-byte stream header — a 1x1 single-symbol image is ~30 bytes
    if (
        content is None
        or len(content) < 25
        or content[:4] != b"RIFF"
        or content[8:12] != b"WEBP"
        or content[12:16] != b"VP8L"
    ):
        return None
    (riff_size,) = struct.unpack_from("<I", content, 4)
    if 8 + riff_size > len(content):
        return None
    (chunk_size,) = struct.unpack_from("<I", content, 16)
    payload = content[20 : 20 + chunk_size]
    if len(payload) < chunk_size or chunk_size < 5:
        return None
    if payload[0] != 0x2F:
        return None
    br = _BitReader(payload[1:])
    wm1 = br.read(14)
    hm1 = br.read(14)
    alpha_hint = br.read(1)
    version = br.read(3)
    if wm1 is None or hm1 is None or alpha_hint is None or version != 0:
        return None
    w, h = wm1 + 1, hm1 + 1
    if w * h > (1 << 24):  # strict bound for the fixture-scale decoder
        return None
    res = _read_entropy_image(br, w, h, True)
    if res is None:
        return None
    px, transforms = res
    # STRICT scope: color-indexing combined with other transforms has
    # dimension-rebasing subtleties this decoder does not model —
    # reject rather than risk a silent misdecode (the quarantine rule)
    if any(t[0] == 3 for t in transforms) and len(transforms) > 1:
        return None
    # color-indexing may have shrunk the coded width; recover via data
    out = _apply_inverse_transforms(px, transforms, w, h)
    if out is None:
        return None
    px, w = out
    return px.reshape(h, w, 4).astype(np.uint8)


def decode_webp_luma(content: bytes) -> "np.ndarray | None":
    """Luma plane (float32) or None — the
    :func:`multimodal._decode_image_impl` dispatch contract.  Gray
    images (r == g == b everywhere) return the stored channel EXACTLY
    (the PNG gray-colortype convention: the float32 luma weights do
    not sum to exactly 1.0, so the weighted form would perturb a gray
    value by ~1e-4); true color uses 0.299 R + 0.587 G + 0.114 B."""
    px = decode_webp_lossless(content)
    if px is None:
        return None
    arr = px.astype(np.float32)
    r, g, b = arr[..., 1], arr[..., 2], arr[..., 3]
    if (px[..., 1] == px[..., 2]).all() and (px[..., 3] == px[..., 2]).all():
        return g
    return 0.299 * r + 0.587 * g + 0.114 * b


# --------------------------------------------------------------------------
# encoder
# --------------------------------------------------------------------------


def _huffman_lengths(freq: "dict[int, int]", max_len: int = 15) -> "dict[int, int]":
    """Canonical Huffman code lengths from symbol frequencies; falls
    back to a balanced complete code if the optimal tree exceeds
    ``max_len`` (cannot happen for fixture-scale inputs, kept for
    safety)."""
    import heapq

    syms = sorted(freq)
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freq.items()))]
    heapq.heapify(heap)
    depth: "dict[int, int]" = {s: 0 for s in syms}
    i = len(heap)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, i, s1 + s2))
        i += 1
    if max(depth.values()) > max_len:
        k = len(syms)
        lo = k.bit_length() - 1 if k & (k - 1) == 0 else k.bit_length()
        n_short = (1 << lo) - k
        out = {}
        for j, s in enumerate(syms):
            out[s] = lo - 1 if j < n_short and lo > 1 else lo
        return out
    return depth


def _canonical_codes(lengths: "dict[int, int]") -> "dict[int, tuple[int, int]]":
    """symbol -> (code, length), canonical assignment (sorted by
    (length, symbol)), codes written MSB-first."""
    out = {}
    code = 0
    prev_len = 0
    for s in sorted(lengths, key=lambda s: (lengths[s], s)):
        ln = lengths[s]
        code <<= ln - prev_len
        out[s] = (code, ln)
        code += 1
        prev_len = ln
    return out


def _write_code_msb(bw: _BitWriter, code: int, length: int) -> None:
    for i in range(length - 1, -1, -1):
        bw.write((code >> i) & 1, 1)


def _write_huffman_code(
    bw: _BitWriter, lengths: "dict[int, int]", alphabet_size: int
) -> None:
    """Write a Huffman code header: the simple form for <= 2 symbols,
    else the full code-length-code form (explicit lengths, trailing
    zeros skipped via max_symbol... written plainly with max bit 0 and
    17/18 zero-runs for gaps)."""
    syms = sorted(lengths)
    if len(syms) <= 2 and all(s < 256 for s in syms):
        bw.write(1, 1)  # simple
        bw.write(len(syms) - 1, 1)
        s0 = syms[0]
        if s0 > 1:
            bw.write(1, 1)  # 8-bit first symbol
            bw.write(s0, 8)
        else:
            bw.write(0, 1)
            bw.write(s0, 1)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        return
    bw.write(0, 1)  # normal
    # build the length array (0 for absent symbols)
    arr = [lengths.get(s, 0) for s in range(alphabet_size)]
    # strip trailing zeros; they are skipped by stopping early with
    # repeat-zero codes? The decoder requires explicit coverage unless
    # max_symbol is used; we use zero-runs (17/18) to cover gaps and
    # the final run to cover the tail exactly.
    tokens: "list[tuple[int, int]]" = []  # (cl_symbol, extra_payload)
    i = 0
    n = len(arr)
    while i < n:
        if arr[i] == 0:
            j = i
            while j < n and arr[j] == 0:
                j += 1
            run = j - i
            while run > 0:
                if run >= 11:
                    r = min(run, 138)
                    tokens.append((18, r - 11))
                    run -= r
                elif run >= 3:
                    tokens.append((17, run - 3))
                    run = 0
                else:
                    for _ in range(run):
                        tokens.append((0, 0))
                    run = 0
            i = j
        else:
            tokens.append((arr[i], 0))
            i += 1
    cl_freq: "dict[int, int]" = {}
    for t, _ in tokens:
        cl_freq[t] = cl_freq.get(t, 0) + 1
    cl_lengths = _huffman_lengths(cl_freq, max_len=7)
    cl_codes = _canonical_codes(cl_lengths)
    # write all 19 code-length-code lengths (num_code_lengths = 19)
    bw.write(19 - 4, 4)
    for s in _CL_ORDER:
        bw.write(cl_lengths.get(s, 0), 3)
    bw.write(0, 1)  # no max_symbol shortcut
    for t, extra in tokens:
        if len(cl_codes) > 1:  # single-symbol trees consume zero bits
            c, ln = cl_codes[t]
            _write_code_msb(bw, c, ln)
        if t == 17:
            bw.write(extra, 3)
        elif t == 18:
            bw.write(extra, 7)
        elif t == 16:
            bw.write(extra, 2)


def encode_webp_lossless(
    img: "np.ndarray",
    subtract_green: bool = False,
    predictor_mode: "int | None" = None,
    palette: bool = False,
    cache_bits: int = 0,
    lz77_left_runs: bool = False,
    cross_color: "tuple[int, int, int] | None" = None,
    meta_split: bool = False,
) -> bytes:
    """Minimal VP8L WRITER: ``img`` is uint8-valued ``(h, w)`` gray,
    ``(h, w, 3)`` RGB, or ``(h, w, 4)`` RGBA.  Literal streams under
    real canonical Huffman codes, plus optional transforms/features
    chosen to exercise specific decoder branches:

    - ``subtract_green``: the subtract-green transform (forward);
    - ``predictor_mode``: a constant-mode predictor transform (modes
      1/2/7/11/12/13 are the useful ones; block size 16);
    - ``palette``: color-indexing — the distinct pixel values become
      the palette (delta-coded), with sub-byte bundling when <= 16;
    - ``cache_bits``: emit color-cache hits (the encoder maintains the
      same 0x1e35a7bd cache the decoder does);
    - ``lz77_left_runs``: emit a backward reference (plane code for
      (dx=1, dy=0)) for runs of >= 4 identical consecutive pixels;
    - ``meta_split``: TWO Huffman groups selected by a meta-Huffman
      image (8-px blocks; the left half of the block grid is group 0,
      the right half group 1) — the multi-group decoder path no other
      option reaches.  Mutually exclusive with cache/lz77/palette.

    Lossless by construction: encode -> decode roundtrips exactly (the
    property the catalog oracle replays from first principles)."""
    arr = np.asarray(img)
    if arr.ndim == 2:
        arr = np.stack([arr, arr, arr], axis=-1)
    h, w = arr.shape[:2]
    if arr.shape[2] == 3:
        alpha = np.full((h, w, 1), 255, dtype=np.int64)
        arr = np.concatenate([arr.astype(np.int64), alpha], axis=2)
    arr = arr.astype(np.int64) & 0xFF
    # pixel stream as (a, r, g, b)
    px = np.stack(
        [arr[..., 3], arr[..., 0], arr[..., 1], arr[..., 2]], axis=-1
    ).reshape(-1, 4)

    bw = _BitWriter()
    coded_w = w

    def header_bits() -> None:
        bw.write(w - 1, 14)
        bw.write(h - 1, 14)
        bw.write(0, 1)  # alpha hint
        bw.write(0, 3)  # version

    header_bits()

    if palette:
        if subtract_green or predictor_mode is not None:
            raise ValueError("palette composes with no other transform here")
        uniq, inverse = np.unique(
            px.view([("", px.dtype)] * 4), return_inverse=True
        )
        pal = uniq.view(px.dtype).reshape(-1, 4)
        if pal.shape[0] > 256:
            raise ValueError("palette encoder supports <= 256 colors")
        bw.write(1, 1)
        bw.write(3, 2)  # color-indexing
        bw.write(pal.shape[0] - 1, 8)
        deltas = np.diff(np.vstack([np.zeros((1, 4), np.int64), pal]), axis=0) & 0xFF
        _write_entropy_literals(bw, deltas, 0, False)
        n_colors = pal.shape[0]
        if n_colors <= 2:
            xbits = 3
        elif n_colors <= 4:
            xbits = 2
        elif n_colors <= 16:
            xbits = 1
        else:
            xbits = 0
        idx = inverse.reshape(h, w).astype(np.int64)
        if xbits:
            coded_w = -(-w // (1 << xbits))
            bits = 8 >> xbits
            per = 1 << xbits
            packed = np.zeros((h, coded_w), dtype=np.int64)
            for x in range(w):
                packed[:, x >> xbits] |= idx[:, x] << ((x & (per - 1)) * bits)
            green = packed
        else:
            coded_w = w
            green = idx
        stream = np.zeros((h * coded_w, 4), dtype=np.int64)
        stream[:, 0] = 255
        stream[:, 2] = green.reshape(-1)
        bw.write(0, 1)  # end of transforms
        _write_entropy_literals(
            bw, stream, cache_bits, lz77_left_runs, coded_w, level0=True
        )
        return _wrap_container(bw.getvalue())

    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
        px = px.copy()
        px[:, 1] = (px[:, 1] - px[:, 2]) & 0xFF  # r -= g
        px[:, 3] = (px[:, 3] - px[:, 2]) & 0xFF  # b -= g
    if cross_color is not None:
        g2r, g2b, r2b = (int(v) & 0xFF for v in cross_color)
        bw.write(1, 1)
        bw.write(1, 2)  # cross-color transform
        size_bits = 4
        bw.write(size_bits - 2, 3)
        bwid = -(-w // (1 << size_bits))
        bhei = -(-h // (1 << size_bits))
        elems = np.zeros((bwid * bhei, 4), dtype=np.int64)
        elems[:, 0] = 255
        elems[:, 1] = r2b   # red channel:  red_to_blue
        elems[:, 2] = g2b   # green channel: green_to_blue
        elems[:, 3] = g2r   # blue channel:  green_to_red
        _write_entropy_literals(bw, elems, 0, False)

        def delta(t: int, c: int) -> int:
            ts = t - 256 if t > 127 else t
            cs = c - 256 if c > 127 else c
            return (ts * cs) >> 5

        px = px.copy()
        for i in range(px.shape[0]):
            a, r, g, b = (int(v) for v in px[i])
            r2 = (r - delta(g2r, g)) & 0xFF
            b2 = (b - delta(g2b, g) - delta(r2b, r)) & 0xFF
            px[i] = (a, r2, g, b2)
    if predictor_mode is not None:
        if not 0 <= predictor_mode <= 13:
            raise ValueError("predictor mode must be 0..13")
        bw.write(1, 1)
        bw.write(0, 2)
        size_bits = 4  # block 16
        bw.write(size_bits - 2, 3)
        bwid = -(-w // (1 << size_bits))
        bhei = -(-h // (1 << size_bits))
        modes = np.zeros((bwid * bhei, 4), dtype=np.int64)
        modes[:, 0] = 255
        modes[:, 2] = predictor_mode
        _write_entropy_literals(bw, modes, 0, False)
        # forward predictor: residual = pixel - prediction (serial)
        img4 = px.reshape(h, w, 4)
        res = np.zeros_like(img4)
        black = np.array([255, 0, 0, 0], dtype=np.int64)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = black
                elif y == 0:
                    pred = img4[0, x - 1]
                elif x == 0:
                    pred = img4[y - 1, 0]
                else:
                    L = img4[y, x - 1]
                    T = img4[y - 1, x]
                    TL = img4[y - 1, x - 1]
                    TR = img4[y - 1, x + 1] if x + 1 < w else img4[y, 0]
                    pred = _predict(predictor_mode, L, T, TL, TR)
                res[y, x] = (img4[y, x] - pred) & 0xFF
        px = res.reshape(-1, 4)
    bw.write(0, 1)  # end of transforms
    if meta_split:
        if cache_bits or lz77_left_runs or palette:
            raise ValueError("meta_split composes with transforms only")
        _write_entropy_meta_groups(bw, px, w, h)
    else:
        _write_entropy_literals(
            bw, px, cache_bits, lz77_left_runs, coded_w, level0=True
        )
    return _wrap_container(bw.getvalue())


def _write_entropy_meta_groups(
    bw: _BitWriter, px: np.ndarray, w: int, h: int
) -> None:
    """Write a level-0 spatially-coded image with TWO Huffman groups
    via a meta-Huffman image (huffman_bits = 3, i.e. 8-px blocks;
    group = 0 for the left half of the block grid, 1 for the right) —
    literals only.  Exercises the decoder's meta-image recursion and
    per-pixel group routing."""
    bw.write(0, 1)  # no color cache
    bw.write(1, 1)  # meta-Huffman present
    bw.write(3 - 2, 3)  # huffman_bits = 3
    hw = -(-w // 8)
    hh = -(-h // 8)
    # meta pixels: group index in (red << 8) | green -> red 0, green g;
    # a single-column block grid degenerates to one group (the decoder
    # reads max-index + 1 tree groups, so the write must match)
    split = max(1, hw // 2)
    n_groups = 2 if split < hw else 1
    meta = np.zeros((hh * hw, 4), dtype=np.int64)
    meta[:, 0] = 255
    for by in range(hh):
        for bx in range(hw):
            meta[by * hw + bx, 2] = 0 if bx < split else 1
    _write_entropy_literals(bw, meta, 0, False)

    def group_of(i: int) -> int:
        y, x = divmod(i, w)
        return 0 if (x >> 3) < split else 1

    n = px.shape[0]
    freqs = [
        {"g": {}, "r": {}, "b": {}, "a": {}} for _ in range(n_groups)
    ]
    for i in range(n):
        a, r, g, b = (int(v) for v in px[i])
        f = freqs[group_of(i)]
        f["g"][g] = f["g"].get(g, 0) + 1
        f["r"][r] = f["r"].get(r, 0) + 1
        f["b"][b] = f["b"].get(b, 0) + 1
        f["a"][a] = f["a"].get(a, 0) + 1
    groups = []
    for f in freqs:
        for key, alpha_size in (("g", 256 + _NUM_LENGTH_CODES), ("r", 256),
                                ("b", 256), ("a", 256)):
            if not f[key]:
                f[key][0] = 1
        lens = {k: _huffman_lengths(f[k]) for k in ("g", "r", "b", "a")}
        lens_d = _huffman_lengths({0: 1})
        _write_huffman_code(bw, lens["g"], 256 + _NUM_LENGTH_CODES)
        _write_huffman_code(bw, lens["r"], 256)
        _write_huffman_code(bw, lens["b"], 256)
        _write_huffman_code(bw, lens["a"], 256)
        _write_huffman_code(bw, lens_d, 40)
        groups.append({k: _canonical_codes(lens[k]) for k in ("g", "r", "b", "a")})

    def emit(codes, s: int) -> None:
        if len(codes) > 1:
            c, ln = codes[s]
            _write_code_msb(bw, c, ln)

    for i in range(n):
        a, r, g, b = (int(v) for v in px[i])
        cs = groups[group_of(i)]
        emit(cs["g"], g)
        emit(cs["r"], r)
        emit(cs["b"], b)
        emit(cs["a"], a)


def _write_entropy_literals(
    bw: _BitWriter,
    px: np.ndarray,
    cache_bits: int,
    lz77: bool,
    xsize: "int | None" = None,
    level0: bool = False,
) -> None:
    """Write one spatially-coded image (single Huffman group):
    color-cache header, the level-0 "no meta-Huffman" bit when
    ``level0``, 5 Huffman codes, then the symbol stream (literals,
    cache hits, and optional left-run backward references)."""
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if level0:
        bw.write(0, 1)  # no meta-Huffman image
    cache = [None] * (1 << cache_bits) if cache_bits else None

    # token pass: build the symbol stream first so histograms are exact
    tokens: "list[tuple]" = []  # ('lit', a,r,g,b) | ('cache', idx) | ('copy', len)
    n = px.shape[0]
    i = 0
    while i < n:
        if lz77 and i > 0:
            run = 0
            while i + run < n and (px[i + run] == px[i - 1]).all() and run < 4096:
                run += 1
            if run >= 4:
                tokens.append(("copy", run))
                if cache is not None:
                    a, r, g, b = (int(v) for v in px[i - 1])
                    argb = (a << 24) | (r << 16) | (g << 8) | b
                    cache[
                        ((_CACHE_MULT * argb) & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = argb
                i += run
                continue
        a, r, g, b = (int(v) for v in px[i])
        argb = (a << 24) | (r << 16) | (g << 8) | b
        if cache is not None:
            key = ((_CACHE_MULT * argb) & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[key] == argb:
                tokens.append(("cache", key))
                i += 1
                continue
            cache[key] = argb
        tokens.append(("lit", a, r, g, b))
        i += 1

    cache_size = (1 << cache_bits) if cache_bits else 0
    freq_g: "dict[int, int]" = {}
    freq_r: "dict[int, int]" = {}
    freq_b: "dict[int, int]" = {}
    freq_a: "dict[int, int]" = {}
    freq_d: "dict[int, int]" = {}
    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            freq_g[g] = freq_g.get(g, 0) + 1
            freq_r[r] = freq_r.get(r, 0) + 1
            freq_b[b] = freq_b.get(b, 0) + 1
            freq_a[a] = freq_a.get(a, 0) + 1
        elif t[0] == "cache":
            s = 256 + _NUM_LENGTH_CODES + t[1]
            freq_g[s] = freq_g.get(s, 0) + 1
        else:
            code, _, _ = _prefix_encode(t[1])
            freq_g[256 + code] = freq_g.get(256 + code, 0) + 1
            # distance: plane code 2 == (dx=1, dy=0) -> prefix code of 2
            dcode, _, _ = _prefix_encode(2)
            freq_d[dcode] = freq_d.get(dcode, 0) + 1
    for f in (freq_r, freq_b, freq_a):
        if not f:
            f[0] = 1
    if not freq_d:
        freq_d[0] = 1
    if not freq_g:
        freq_g[0] = 1

    lens_g = _huffman_lengths(freq_g)
    lens_r = _huffman_lengths(freq_r)
    lens_b = _huffman_lengths(freq_b)
    lens_a = _huffman_lengths(freq_a)
    lens_d = _huffman_lengths(freq_d)
    green_alpha = 256 + _NUM_LENGTH_CODES + cache_size
    _write_huffman_code(bw, lens_g, green_alpha)
    _write_huffman_code(bw, lens_r, 256)
    _write_huffman_code(bw, lens_b, 256)
    _write_huffman_code(bw, lens_a, 256)
    _write_huffman_code(bw, lens_d, 40)
    codes_g = _canonical_codes(lens_g)
    codes_r = _canonical_codes(lens_r)
    codes_b = _canonical_codes(lens_b)
    codes_a = _canonical_codes(lens_a)
    codes_d = _canonical_codes(lens_d)

    def emit(codes: "dict[int, tuple[int, int]]", s: int) -> None:
        c, ln = codes[s]
        if len(codes) > 1:  # single-symbol trees consume zero bits
            _write_code_msb(bw, c, ln)

    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            emit(codes_g, g)
            emit(codes_r, r)
            emit(codes_b, b)
            emit(codes_a, a)
        elif t[0] == "cache":
            emit(codes_g, 256 + _NUM_LENGTH_CODES + t[1])
        else:
            code, extra, ebits = _prefix_encode(t[1])
            emit(codes_g, 256 + code)
            if ebits:
                bw.write(extra, ebits)
            dcode, dextra, debits = _prefix_encode(2)
            emit(codes_d, dcode)
            if debits:
                bw.write(dextra, debits)


def _wrap_container(stream: bytes) -> bytes:
    payload = b"\x2f" + stream
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        chunk += b"\x00"
    body = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(body)) + body


# --------------------------------------------------------------------------
# container / header TRIAGE (round-14): lossy VP8 + extended VP8X
# --------------------------------------------------------------------------
#
# The majority of real-crawl WebP is LOSSY (VP8), which the decoder
# above deliberately does not touch — but a 100 TB crawl still needs
# dimensions and per-variant accounting for media it will not decode
# (the operators/audiometa.py pattern: header-only triage, zero
# payload work).  Everything below reads PUBLIC fixed-layout headers:
# the VP8 keyframe's 10-byte uncompressed header (RFC 6386 §9.1 —
# 3-byte frame tag, 3-byte start code 9D 01 2A, two 16-bit LE
# dimension words with 2-bit scale fields) and the VP8X extended
# header (WebP container spec — feature flags + 24-bit LE canvas
# dimensions), with strict RIFF chunk tiling throughout.


def _walk_riff_chunks(content: bytes) -> "list[tuple[bytes, bytes]] | None":
    """Strict RIFF walk: [(fourcc, payload), ...] or None.  The RIFF
    size must cover the content exactly, every chunk must fit, odd
    chunk sizes carry one pad byte, and chunks must tile the payload
    region with no trailing garbage (the Ogg page-tiling rule)."""
    if content is None or len(content) < 12 or content[:4] != b"RIFF":
        return None
    (riff_size,) = struct.unpack_from("<I", content, 4)
    if 8 + riff_size != len(content) or content[8:12] != b"WEBP":
        return None
    chunks: "list[tuple[bytes, bytes]]" = []
    pos = 12
    while pos < len(content):
        if pos + 8 > len(content):
            return None
        fourcc = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        end = pos + 8 + size
        if end > len(content):
            return None
        chunks.append((fourcc, content[pos + 8 : end]))
        if size % 2:  # odd sizes are padded to even offsets
            if end >= len(content):
                return None
            end += 1
        pos = end
    return chunks or None


def _parse_vp8_keyframe_header(payload: bytes) -> "dict | None":
    """The 10-byte uncompressed VP8 keyframe header: frame tag
    (frame-type bit, 3-bit version, show-frame bit, 19-bit first
    partition size), start code 9D 01 2A, 14-bit width/height with
    2-bit upscale fields.  None unless every validity rule holds AND
    the declared first partition fits inside the payload."""
    if len(payload) < 10:
        return None
    tag = payload[0] | (payload[1] << 8) | (payload[2] << 16)
    if tag & 1:  # interframe cannot start a still image
        return None
    version = (tag >> 1) & 7
    if version > 3:
        return None
    first_part = tag >> 5
    if payload[3:6] != b"\x9d\x01\x2a":
        return None
    (wword,) = struct.unpack_from("<H", payload, 6)
    (hword,) = struct.unpack_from("<H", payload, 8)
    width, height = wword & 0x3FFF, hword & 0x3FFF
    if width == 0 or height == 0:
        return None
    if first_part == 0 or 10 + first_part > len(payload):
        return None
    return {
        "width": width,
        "height": height,
        "version": version,
        "first_part_size": first_part,
        "hscale": wword >> 14,
        "vscale": hword >> 14,
    }


def _parse_vp8l_header(payload: bytes) -> "dict | None":
    """Signature byte 0x2F + 14-bit w-1 / 14-bit h-1 / alpha hint /
    3-bit version (must be 0) — dimension extraction only (the full
    strict decode is :func:`decode_webp_lossless`)."""
    if len(payload) < 5 or payload[0] != 0x2F:
        return None
    br = _BitReader(payload[1:])
    wm1 = br.read(14)
    hm1 = br.read(14)
    alpha = br.read(1)
    version = br.read(3)
    if wm1 is None or version is None or version != 0:
        return None
    return {"width": wm1 + 1, "height": hm1 + 1, "has_alpha": bool(alpha)}


def parse_webp_header(content: bytes) -> "dict | None":
    """Header-only WebP triage: ``{variant, width, height, has_alpha,
    has_icc, has_exif, has_xmp, has_animation, n_chunks}`` or None.

    variant: 'lossy' (VP8), 'lossless' (VP8L), 'extended' (VP8X —
    width/height are the CANVAS dimensions).  Strict: RIFF chunks must
    tile exactly; a VP8X payload must be exactly 10 bytes with zero
    reserved bits and must be followed by an image chunk (or an ANIM
    chunk when the animation flag is set); the inner VP8/VP8L headers
    must themselves parse.  No entropy-coded byte is ever read."""
    chunks = _walk_riff_chunks(content)
    if not chunks:
        return None
    fourcc, payload = chunks[0]
    base = {
        "has_alpha": False, "has_icc": False, "has_exif": False,
        "has_xmp": False, "has_animation": False, "n_chunks": len(chunks),
    }
    if fourcc == b"VP8 ":
        vp8 = _parse_vp8_keyframe_header(payload)
        if vp8 is None or len(chunks) != 1:
            return None
        return {
            "variant": "lossy", "width": vp8["width"],
            "height": vp8["height"], **base,
        }
    if fourcc == b"VP8L":
        vp8l = _parse_vp8l_header(payload)
        if vp8l is None or len(chunks) != 1:
            return None
        return {
            "variant": "lossless", "width": vp8l["width"],
            "height": vp8l["height"],
            **{**base, "has_alpha": vp8l["has_alpha"]},
        }
    if fourcc != b"VP8X" or len(payload) != 10:
        return None
    flags = payload[0]
    # MSB-first: 2 reserved | ICC | alpha | EXIF | XMP | animation | 1 reserved
    if flags & 0b11000001 or payload[1:4] != b"\x00\x00\x00":
        return None
    w = 1 + (payload[4] | (payload[5] << 8) | (payload[6] << 16))
    h = 1 + (payload[7] | (payload[8] << 8) | (payload[9] << 16))
    feats = {
        "has_icc": bool(flags & 0x20), "has_alpha": bool(flags & 0x10),
        "has_exif": bool(flags & 0x08), "has_xmp": bool(flags & 0x04),
        "has_animation": bool(flags & 0x02),
    }
    rest = {fc: pl for fc, pl in chunks[1:]}
    if feats["has_animation"]:
        if b"ANIM" not in rest:
            return None
    elif b"VP8 " in rest:
        if _parse_vp8_keyframe_header(rest[b"VP8 "]) is None:
            return None
    elif b"VP8L" in rest:
        if _parse_vp8l_header(rest[b"VP8L"]) is None:
            return None
    else:
        return None
    return {
        "variant": "extended", "width": w, "height": h,
        **{**base, **feats},
    }


def sniff_webp_variant(content: "bytes | None") -> str:
    """Cheap fourcc-level classification for quarantine accounting
    (the sniff_audio_container contract: a positive sniff does NOT
    mean the header parses): 'lossy' / 'lossless' / 'extended' /
    'unknown'."""
    if (
        not content or len(content) < 16
        or content[:4] != b"RIFF" or content[8:12] != b"WEBP"
    ):
        return "unknown"
    fourcc = content[12:16]
    if fourcc == b"VP8 ":
        return "lossy"
    if fourcc == b"VP8L":
        return "lossless"
    if fourcc == b"VP8X":
        return "extended"
    return "unknown"


def encode_webp_lossy_stub(
    width: int,
    height: int,
    version: int = 0,
    first_part: "int | None" = None,
    seed: int = 0,
    truncate: int = 0,
) -> bytes:
    """Fixture writer: a structurally-valid LOSSY WebP — correct RIFF
    container, VP8 keyframe tag, start code, and dimension words —
    whose first partition is md5-derived junk (the triage tier never
    reads it; a full VP8 decoder would reject it, exactly like a
    real-crawl blob whose payload we do not decode).  ``truncate``
    drops that many trailing bytes AFTER container assembly, producing
    the strict-parser rejection case."""
    if not (1 <= width <= 0x3FFF and 1 <= height <= 0x3FFF):
        raise ValueError("dimensions must fit 14 bits")
    if first_part is None:
        first_part = 24 + seed % 48
    tag = (version << 1) | (1 << 4) | (first_part << 5)
    payload = bytearray()
    payload += bytes([tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF])
    payload += b"\x9d\x01\x2a"
    payload += struct.pack("<H", width)
    payload += struct.pack("<H", height)
    payload += b"".join(
        _md5(f"vp8:{seed}:{i}".encode()).digest()
        for i in range(first_part // 16 + 1)
    )[:first_part]
    chunk = b"VP8 " + struct.pack("<I", len(payload)) + bytes(payload)
    if len(payload) % 2:
        chunk += b"\x00"
    body = b"WEBP" + chunk
    out = b"RIFF" + struct.pack("<I", len(body)) + body
    return out[: len(out) - truncate] if truncate else out


def encode_webp_extended(
    inner: bytes,
    canvas_w: "int | None" = None,
    canvas_h: "int | None" = None,
    alpha: bool = False,
    exif: bool = False,
    xmp: bool = False,
    icc: bool = False,
    seed: int = 0,
) -> bytes:
    """Fixture writer: re-wrap a simple WebP (lossless from
    :func:`encode_webp_lossless` or a lossy stub) as an EXTENDED file:
    VP8X header chunk (feature flags + canvas size, defaulting to the
    inner image's own dimensions) + optional ICCP/EXIF/XMP stub chunks
    + the inner image chunk, with correct pad-byte tiling."""
    hdr = parse_webp_header(inner)
    if hdr is None or hdr["variant"] not in ("lossy", "lossless"):
        raise ValueError("inner must be a parseable simple WebP")
    if canvas_w is None:
        canvas_w = hdr["width"]
    if canvas_h is None:
        canvas_h = hdr["height"]
    flags = (
        (0x20 if icc else 0) | (0x10 if alpha else 0)
        | (0x08 if exif else 0) | (0x04 if xmp else 0)
    )
    vp8x = bytes([flags, 0, 0, 0])
    vp8x += struct.pack("<I", canvas_w - 1)[:3]
    vp8x += struct.pack("<I", canvas_h - 1)[:3]
    parts = [b"VP8X" + struct.pack("<I", 10) + vp8x]

    def stub_chunk(fourcc: bytes, n: int) -> bytes:
        pl = b"".join(
            _md5(f"{fourcc.decode()}:{seed}:{i}".encode()).digest()
            for i in range(n // 16 + 1)
        )[:n]
        c = fourcc + struct.pack("<I", n) + pl
        return c + (b"\x00" if n % 2 else b"")

    if icc:
        parts.append(stub_chunk(b"ICCP", 17 + seed % 16))
    image_chunk = inner[12:]  # the simple file's single chunk (+pad)
    parts.append(image_chunk)
    if exif:
        parts.append(stub_chunk(b"EXIF", 21 + seed % 16))
    if xmp:
        parts.append(stub_chunk(b"XMP ", 13 + seed % 16))
    body = b"WEBP" + b"".join(parts)
    return b"RIFF" + struct.pack("<I", len(body)) + body


WEBP_META_SCHEMA = (
    "media_id bigint, variant string, width int, height int, "
    "has_alpha boolean, has_exif boolean, has_xmp boolean, "
    "has_animation boolean, n_chunks int, size_bytes bigint"
)


def extract_webp_meta(df, id_col="media_id", content_col="content"):
    """Per-blob WebP header triage in one Arrow-batched mapInPandas
    pass: parsed headers yield (variant, width, height, feature
    flags, chunk count); a blob the strict parser rejects emits the
    per-VARIANT quarantine row — fourcc-sniffed variant with NULL
    stats — so lossy/lossless/extended coverage loss is measurable
    separately (the sniff_audio_formats contract).  Blobs never
    shuffle."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        hdr = parse_webp_header(data) if data else None
        size = len(data) if data is not None else None
        if hdr is None:
            yield {"variant": sniff_webp_variant(data), "size_bytes": size}
            return
        yield {
            "variant": hdr["variant"],
            "width": hdr["width"], "height": hdr["height"],
            "has_alpha": hdr["has_alpha"],
            "has_exif": hdr["has_exif"], "has_xmp": hdr["has_xmp"],
            "has_animation": hdr["has_animation"],
            "n_chunks": hdr["n_chunks"],
            "size_bytes": size,
        }

    return map_blobs(df, id_col, content_col, WEBP_META_SCHEMA, rows)
