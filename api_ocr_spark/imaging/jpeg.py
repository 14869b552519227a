"""Baseline JPEG codec (grayscale, 8-bit) in pure numpy + stdlib.

The reference compresses uploads with OpenCV's JPEG encoder and a quality
ladder (/root/reference/preprocessing/compression.py:16-79). This container
has no JPEG codec, so this module implements baseline JFIF end-to-end:

  encode_gray_jpeg: level shift → 8×8 blocks → 2-D DCT-II (orthonormal
  matrix form) → quality-scaled Annex-K luminance quantization (libjpeg's
  5000/q / 200−2q convention) → zigzag → DC differential + AC run-length →
  per-image OPTIMIZED canonical Huffman tables (like `cjpeg -optimize`;
  the tables ship in the DHT segment, so no standard-table dependency) →
  entropy coding with byte stuffing → SOI/APP0/DQT/SOF0/DHT/SOS/EOI.

  decode_gray_jpeg: a real parser of the baseline grayscale subset — reads
  DQT/SOF0/DHT from the stream (any single-component baseline JPEG with
  8-bit tables, not just our own output shape), canonical-code Huffman
  decode, dequantize, inverse DCT, unpad.

Lossy by design: OCR exactness through a JPEG round trip is a measured
property (tests assert the binarized ink mask survives at quality >= 85 on
rendered pages), not a contract like the PNG path.
"""

from __future__ import annotations

import numpy as np

from . import _jpegscan

# ---------------------------------------------------------------- tables

# ITU-T T.81 Annex K.1 luminance quantization table (public spec constants)
QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)

_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)


def _dct_matrix() -> np.ndarray:
    n = np.arange(8)
    k = n.reshape(-1, 1)
    c = np.sqrt(2.0 / 8.0) * np.cos(np.pi * (2 * n + 1) * k / 16.0)
    c[0] /= np.sqrt(2.0)
    return c


_DCT = _dct_matrix()


# 2-D block transform as ONE flat GEMM: for row-major flattened blocks,
# vec(M1 @ B @ M1ᵀ) = vec(B) @ kron(M1, M1)ᵀ — so the whole stack transforms
# as (nblocks, 64) @ (64, 64). einsum ran the same contraction without BLAS
# at ~30× the cost; the two-GEMM sandwich form still paid two transpose
# copies per stack.
_KRON_DCT_T = np.kron(_DCT, _DCT).T      # forward: vec(D B Dᵀ) = vec(B) @ this
_KRON_IDCT_T = np.kron(_DCT.T, _DCT.T).T  # inverse: vec(Dᵀ C D) = vec(C) @ this


def quant_table(quality: int) -> np.ndarray:
    """libjpeg quality scaling: scale = 5000/q (q<50) else 200−2q."""
    q = int(min(max(quality, 1), 100))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (QUANT_LUMA * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int64)


# ------------------------------------------------------- huffman building

def _optimal_lengths(freq: dict[int, int]) -> dict[int, int]:
    """Huffman code lengths, limited to 16 bits, with libjpeg's reserved
    dummy symbol (256) so no real symbol gets the all-ones code."""
    f = dict(freq)
    f[256] = 1  # dummy: absorbs the all-ones code
    # standard Huffman via repeated pairing (symbol counts here are tiny)
    nodes = [(cnt, [sym]) for sym, cnt in f.items() if cnt > 0]
    depth = {s: 0 for _, syms in nodes for s in syms}
    while len(nodes) > 1:
        nodes.sort(key=lambda n: n[0])
        (c1, s1), (c2, s2) = nodes[0], nodes[1]
        for s in s1 + s2:
            depth[s] += 1
        nodes = nodes[2:] + [(c1 + c2, s1 + s2)]
    if len(depth) == 1:  # single symbol: give it a 1-bit code
        depth = {s: 1 for s in depth}
    # length-limit to 16 (T.81 K.3 adjust procedure)
    counts = [0] * (max(depth.values()) + 1)
    for d in depth.values():
        counts[d] += 1
    i = len(counts) - 1
    while i > 16:
        while counts[i] > 0:
            j = i - 2
            while counts[j] == 0:
                j -= 1
            counts[i] -= 2
            counts[i - 1] += 1
            counts[j + 1] += 2
            counts[j] -= 1
        i -= 1
    counts = counts[:17] + [0] * (17 - len(counts[:17]))
    # drop the dummy from the LONGEST used length (it owns the all-ones code)
    for d in range(16, 0, -1):
        if counts[d] > 0:
            counts[d] -= 1
            break
    # canonical assignment: symbols ordered by (depth, symbol value)
    real = sorted((s for s in depth if s != 256), key=lambda s: (depth[s], s))
    lengths: dict[int, int] = {}
    idx = 0
    for ln in range(1, 17):
        for _ in range(counts[ln]):
            if idx < len(real):
                lengths[real[idx]] = ln
                idx += 1
    # any stragglers (possible after the adjust) get the max length
    for s in real[idx:]:
        lengths[s] = 16
    return lengths


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """(code, nbits) per symbol from canonical lengths (increasing length,
    then symbol order — matching how DHT consumers regenerate them)."""
    code = 0
    out: dict[int, tuple[int, int]] = {}
    last_len = 0
    for sym in sorted(lengths, key=lambda s: (lengths[s], s)):
        ln = lengths[sym]
        code <<= ln - last_len
        out[sym] = (code, ln)
        code += 1
        last_len = ln
    return out


def _dht_segment(table_class: int, table_id: int, lengths: dict[int, int]) -> bytes:
    bits = [0] * 17
    for ln in lengths.values():
        bits[ln] += 1
    syms = sorted(lengths, key=lambda s: (lengths[s], s))
    payload = bytes([(table_class << 4) | table_id]) + bytes(bits[1:]) + bytes(syms)
    return b"\xff\xc4" + (len(payload) + 2).to_bytes(2, "big") + payload


_POW2 = 2 ** np.arange(32, dtype=np.int64)  # bit_length via searchsorted (exact)

# bit_length LUT for the common |v| range (quantized baseline coefficients
# are well under 2^12 on 8-bit inputs); one take() beats searchsorted's
# binary search per element. Falls back to searchsorted for larger values.
_CAT_LUT = np.searchsorted(_POW2, np.arange(1 << 12), side="right").astype(np.int64)


def _categories(v: np.ndarray) -> np.ndarray:
    """Vectorized JPEG category (bit_length of |v|); 0 for v == 0."""
    a = np.abs(v)
    if a.size == 0 or int(a.max()) < len(_CAT_LUT):
        return _CAT_LUT.take(a)
    return np.searchsorted(_POW2, a, side="right").astype(np.int64)


def _extend(v: np.ndarray, cat: np.ndarray) -> np.ndarray:
    """Vectorized T.81 value-bit mapping: negatives become v + 2^cat − 1."""
    return np.where(v >= 0, v, v + (np.int64(1) << cat) - 1)


def _pack_bits(codes: np.ndarray, lens: np.ndarray) -> bytes:
    """Variable-length bit packing + 1s padding + byte stuffing. Compiled
    fast path when available (the numpy form allocates ~5 ragged-repeat
    arrays per image — malloc churn that hurts under 32-way concurrency);
    byte-identical vectorized numpy fallback (asserted in tests)."""
    codes = np.ascontiguousarray(codes, np.int32)
    lens = np.ascontiguousarray(lens, np.int32)
    native = _jpegscan.pack_fn()
    if native is not None:
        total = int(lens.sum())
        out = np.empty(total // 4 + 16, np.uint8)  # 2x stuffing worst case
        m = native(codes.ctypes.data, lens.ctypes.data, len(codes),
                   out.ctypes.data)
        return out[:m].tobytes()
    total = int(lens.sum())
    pad = (-total) % 8
    if pad:
        codes = np.append(codes, np.int32((1 << pad) - 1))
        lens = np.append(lens, np.int32(pad))
    starts = np.concatenate(([0], np.cumsum(lens, dtype=np.int64)[:-1]))
    within = np.arange(total + pad, dtype=np.int64) - np.repeat(starts, lens)
    bits = (np.repeat(codes, lens) >> (np.repeat(lens, lens) - 1 - within)) & 1
    packed = np.packbits(bits.astype(np.uint8))
    ff = np.nonzero(packed == 0xFF)[0]
    if len(ff):
        packed = np.insert(packed, ff + 1, np.uint8(0))
    return packed.tobytes()


def encode_gray_jpeg(img: np.ndarray, quality: int = 75) -> bytes:
    assert img.ndim == 2 and img.dtype == np.uint8
    h, w = img.shape
    ph, pw = -h % 8, -w % 8
    x8 = np.pad(img, ((0, ph), (0, pw)), mode="edge")
    hh, ww = x8.shape
    blocks8 = x8.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 64)
    n = blocks8.shape[0]
    qt = quant_table(quality)
    # UNIFORM blocks (document background, the majority on rendered pages)
    # have an analytically known DCT — coef[0,0] = 8·(v−128), AC exactly 0 —
    # so the float64 DCT/quantize pipeline runs only on blocks with content
    bmin = blocks8.min(axis=1)
    uni = bmin == blocks8.max(axis=1)
    zzs = np.zeros((n, 64), np.int64)
    if not uni.all():
        xb = blocks8[~uni].astype(np.float64) - 128.0   # stays flat (n, 64)
        coef = xb @ _KRON_DCT_T                          # DCT @ B @ DCTᵀ
        # round-half-away (np.rint is banker's; libjpeg divides w/ rounding)
        qz = (np.sign(coef) * np.floor(np.abs(coef) / qt.reshape(-1) + 0.5)).astype(np.int64)
        zzs[~uni] = qz[:, _ZZ]
    if uni.any():
        c00 = 8.0 * (bmin[uni].astype(np.float64) - 128.0)
        zzs[uni, 0] = (np.sign(c00) * np.floor(np.abs(c00) / qt[0, 0] + 0.5)).astype(np.int64)

    # ---- symbol stream, fully vectorized (order reconstructed by key sort:
    # per block DC(key 0) < ZRLs/ACs in position order < EOB(key 2047))
    dc = zzs[:, 0]
    diffs = np.empty(n, np.int64)
    diffs[0] = dc[0]
    diffs[1:] = np.diff(dc)
    dc_cats = _categories(diffs)
    dc_vals = _extend(diffs, dc_cats)

    mask = zzs[:, 1:] != 0
    bids, c0 = np.nonzero(mask)
    pos = (c0 + 1).astype(np.int64)
    vv = zzs[bids, pos]
    prev_pos = np.empty_like(pos)
    if len(pos):
        prev_pos[0] = 0
        prev_pos[1:] = pos[:-1]
        first = np.empty(len(bids), bool)
        first[0] = True
        first[1:] = bids[1:] != bids[:-1]
        prev_pos[first] = 0
    run = pos - prev_pos - 1
    n_zrl = run >> 4
    ac_cats = _categories(vv)
    ac_syms = ((run & 15) << 4) | ac_cats
    ac_vals = _extend(vv, ac_cats)
    last_pos = np.zeros(n, np.int64)
    if len(bids):
        np.maximum.at(last_pos, bids, pos)
    eob_blocks = np.nonzero(last_pos < 63)[0]

    total_zrl = int(n_zrl.sum())
    if total_zrl:
        owner = np.repeat(np.arange(len(bids)), n_zrl)
        zstarts = np.concatenate(([0], np.cumsum(n_zrl)[:-1]))
        jwithin = np.arange(total_zrl, dtype=np.int64) - np.repeat(zstarts, n_zrl)
        zrl_keys = bids[owner] * 2048 + pos[owner] * 16 + jwithin
    else:
        zrl_keys = np.empty(0, np.int64)

    keys = np.concatenate([
        np.arange(n, dtype=np.int64) * 2048,              # DC
        zrl_keys,                                          # ZRL (0xF0)
        bids * 2048 + pos * 16 + 15,                       # AC
        eob_blocks * 2048 + 2047,                          # EOB (0x00)
    ])
    is_dc = np.concatenate([
        np.ones(n, bool), np.zeros(total_zrl + len(bids) + len(eob_blocks), bool)])
    syms = np.concatenate([
        dc_cats,
        np.full(total_zrl, 0xF0, np.int64),
        ac_syms,
        np.zeros(len(eob_blocks), np.int64),
    ])
    vals = np.concatenate([
        dc_vals, np.zeros(total_zrl, np.int64), ac_vals,
        np.zeros(len(eob_blocks), np.int64)])
    vlens = np.concatenate([
        dc_cats, np.zeros(total_zrl, np.int64), ac_cats,
        np.zeros(len(eob_blocks), np.int64)])
    order = np.argsort(keys, kind="stable")
    is_dc, syms, vals, vlens = is_dc[order], syms[order], vals[order], vlens[order]

    # ---- optimal tables from vectorized stats
    dc_bins = np.bincount(dc_cats, minlength=256)
    ac_bins = np.bincount(
        np.concatenate([ac_syms, np.full(total_zrl, 0xF0, np.int64),
                        np.zeros(len(eob_blocks), np.int64)]), minlength=256)
    dc_len = _optimal_lengths({s: int(c) for s, c in enumerate(dc_bins) if c})
    ac_len = _optimal_lengths({s: int(c) for s, c in enumerate(ac_bins) if c})
    dc_codes = _canonical_codes(dc_len)
    ac_codes = _canonical_codes(ac_len)
    code_arr = np.zeros((2, 256), np.int64)
    len_arr = np.zeros((2, 256), np.int64)
    for s, (c, ln) in dc_codes.items():
        code_arr[0, s], len_arr[0, s] = c, ln
    for s, (c, ln) in ac_codes.items():
        code_arr[1, s], len_arr[1, s] = c, ln

    # ---- entropy coding: huffman code and value bits fused into ONE
    # emission per symbol (<= 16 + 16 bits), then vectorized packing
    tab = (~is_dc).astype(np.int64)
    hcodes = code_arr[tab, syms]
    hlens = len_arr[tab, syms]
    combined = (hcodes << vlens) | vals
    clens = hlens + vlens
    payload = _pack_bits(combined, clens)
    # headers
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"  # APP0
    zz_qt = qt.reshape(-1)[_ZZ]
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00" + bytes(int(v) for v in zz_qt)
    out += (
        b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
        + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + b"\x01" + b"\x01" + b"\x11" + b"\x00"
    )  # SOF0: 8-bit, 1 component, no subsampling, qtable 0
    out += _dht_segment(0, 0, dc_len)
    out += _dht_segment(1, 0, ac_len)
    out += b"\xff\xda" + (8).to_bytes(2, "big") + b"\x01\x01\x00\x00\x3f\x00"  # SOS
    out += payload
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------- decode

_LUT_BITS = 10  # primary-LUT width: covers every code of <= 10 bits (the
# overwhelming majority of decoded symbols on optimized tables); longer
# codes fall back to a dict walk. 2^10 entries keep the per-image
# table-build + tolist cost negligible (a 2^16 LUT spent ~3 ms/image there).


def _decode_table(bits: bytes, syms: bytes) -> tuple[list, dict, bytes, bytes]:
    """(primary LUT, fallback, raw bits, raw syms) from a DHT payload. LUT
    entry for a 10-bit window whose prefix is a code of length L <= 10:
    (L << 8) | symbol — ONE list index + shift decodes a whole symbol.
    Entry 0 = code longer than 10 bits → fallback dict {(len, code): sym}
    canonical walk. The raw DHT bytes ride along for the compiled scan fast
    path (imaging/_jpegscan), which rebuilds its own 16-bit LUT in C."""
    lut = np.zeros(1 << _LUT_BITS, np.int32)
    fallback: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            if ln <= _LUT_BITS:
                start = code << (_LUT_BITS - ln)
                lut[start : start + (1 << (_LUT_BITS - ln))] = (ln << 8) | syms[k]
            else:
                fallback[(ln, code)] = syms[k]
            code += 1
            k += 1
        code <<= 1
    return lut.tolist(), fallback, bytes(bits), bytes(syms)


def decode_gray_jpeg(data: bytes) -> np.ndarray:
    assert data[:2] == b"\xff\xd8", "not a JPEG (missing SOI)"
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    h = w = 0
    qt_id = 0
    while pos < len(data):
        assert data[pos] == 0xFF, "bad marker sync"
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        seg_len = int.from_bytes(data[pos : pos + 2], "big")
        seg = data[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            o = 0
            while o < len(seg):
                tid = seg[o] & 0x0F
                assert seg[o] >> 4 == 0, "only 8-bit qtables supported"
                t = np.zeros(64, dtype=np.int64)
                t[_ZZ] = np.frombuffer(seg[o + 1 : o + 65], dtype=np.uint8)
                qtables[tid] = t.reshape(8, 8)
                o += 65
        elif marker == 0xC0:  # SOF0
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            assert seg[0] == 8 and seg[5] == 1, "baseline grayscale only"
            qt_id = seg[8]
        elif marker == 0xC4:  # DHT (possibly several tables)
            o = 0
            while o < len(seg):
                tc, tid = seg[o] >> 4, seg[o] & 0x0F
                bits = seg[o + 1 : o + 17]
                n = sum(bits)
                htables[(tc, tid)] = _decode_table(bits, seg[o + 17 : o + 17 + n])
                o += 17 + n
        elif marker == 0xDA:  # SOS → entropy data follows
            dc_tid = seg[2] >> 4
            ac_tid = seg[2] & 0x0F
            scan = data[pos + seg_len :]
            end = scan.rfind(b"\xff\xd9")  # strip trailing EOI
            scan = scan[: end if end >= 0 else len(scan)]
            # de-stuff once (drop the 0x00 after each 0xFF), then expose the
            # bitstream as 32-bit windows: word i = bits starting at byte i,
            # so "the 16 bits at bit p" is ONE shift+mask — the _BitReader's
            # per-bit loop became O(1) peeks against this array
            arr = np.frombuffer(scan, np.uint8)
            if len(arr) > 1:
                drop = np.nonzero((arr[:-1] == 0xFF) & (arr[1:] == 0x00))[0] + 1
                if len(drop):
                    arr = np.delete(arr, drop)
            arr = np.concatenate([arr, np.zeros(8, np.uint8)])
            dlut, dfall, dbits, dsyms = htables[(0, dc_tid)]
            alut, afall, abits, asyms = htables[(1, ac_tid)]
            qt = qtables[qt_id]
            bh, bw_ = -(-h // 8), -(-w // 8)
            nblocks = bh * bw_
            native = _jpegscan.scan_fn()
            if native is not None:
                # compiled scan loop (identical algorithm/outputs; asserted
                # vs the Python path in tests) — ~25x on dense pages
                dc_arr = np.empty(nblocks, np.int64)
                cap = (len(arr) * 8) // 2 + 64  # a value symbol needs >=2 bits
                pv_buf = np.empty(cap, np.int64)
                nvals = native(
                    arr.tobytes(), len(arr), dbits, dsyms, abits, asyms,
                    nblocks, dc_arr.ctypes.data, pv_buf.ctypes.data, cap)
                if nvals < 0:
                    # invalid huffman code OR truncated/adversarial stream
                    # (bit cursor or value count hit the C-side bounds guard
                    # — the Python path raises IndexError at the same point)
                    raise ValueError("invalid huffman code")
                return _reconstruct(dc_arr, pv_buf[:nvals], bh, bw_, qt, h, w)
            c = arr.astype(np.uint32)
            words = ((c[:-3] << 24) | (c[1:-2] << 16) | (c[2:-1] << 8) | c[3:]).tolist()
            dc_diffs = [0] * nblocks
            packed_vals: list[int] = []
            # per-SYMBOL scan loop (one LUT index decodes a symbol); all
            # per-block math (dequant/IDCT) is batched after it. Hot-loop
            # hygiene: locals everywhere, ONE packed append per AC value
            # ((bi << 17) | (k << 11) | (v + 1024) — baseline AC categories
            # are <= 10, so v is within ±1023), precomputed sign-extension
            # tables, dict-walk fallback only for codes > 10 bits.
            half = [1] + [1 << (c - 1) for c in range(1, 17)]
            ext = [(1 << c) - 1 for c in range(17)]
            append = packed_vals.append
            wds = words
            shift = 32 - _LUT_BITS

            def slow(p: int, fall: dict) -> int:
                peek16 = ((wds[p >> 3] << (p & 7)) & 0xFFFFFFFF) >> 16
                for ln in range(_LUT_BITS + 1, 17):
                    s = fall.get((ln, peek16 >> (16 - ln)))
                    if s is not None:
                        return (ln << 8) | s
                raise ValueError("invalid huffman code")

            p = 0  # bit position
            try:
                for bi in range(nblocks):
                    e = dlut[((wds[p >> 3] << (p & 7)) & 0xFFFFFFFF) >> shift]
                    if not e:
                        e = slow(p, dfall)
                    p += e >> 8
                    cat = e & 0xFF
                    if cat:
                        v = ((wds[p >> 3] << (p & 7)) & 0xFFFFFFFF) >> (32 - cat)
                        p += cat
                        if v < half[cat]:
                            v -= ext[cat]
                        dc_diffs[bi] = v
                    k = 1
                    base = bi << 17
                    while k < 64:
                        e = alut[((wds[p >> 3] << (p & 7)) & 0xFFFFFFFF) >> shift]
                        if not e:
                            e = slow(p, afall)
                        p += e >> 8
                        sym = e & 0xFF
                        if sym == 0x00:  # EOB
                            break
                        k += sym >> 4
                        size = sym & 0x0F
                        if size:
                            v = ((wds[p >> 3] << (p & 7)) & 0xFFFFFFFF) >> (32 - size)
                            p += size
                            if v < half[size]:
                                v -= ext[size]
                            append(base | (k << 11) | (v + 1024))
                            k += 1
                        elif sym == 0xF0:
                            k += 1  # ZRL = 16 zeros: run(15) + this slot
                        else:
                            break
            except IndexError:
                # Truncated/adversarial stream ran the bit cursor off the
                # de-stuffed array. The C fast path reports the same condition
                # through its bounds guard as ValueError — raise identically
                # so callers see one exception type on both paths.
                raise ValueError("invalid huffman code") from None
            return _reconstruct(
                np.asarray(dc_diffs, np.int64),
                np.asarray(packed_vals, np.int64), bh, bw_, qt, h, w)
        pos += seg_len
    raise ValueError("no SOS segment found")


def _reconstruct(dc_diffs: np.ndarray, pv: np.ndarray, bh: int, bw_: int,
                 qt: np.ndarray, h: int, w: int) -> np.ndarray:
    """Packed scan output → pixels. DC-only blocks (the common case on
    document pages: background) reconstruct to a UNIFORM value dc·qt[0,0]/8
    — no IDCT, and the image is written once as uint8 (1 byte/px); batched
    dequant + IDCT runs over ONLY the blocks that carry AC coefficients."""
    if len(pv):
        bis, ks, vs = pv >> 17, (pv >> 11) & 63, (pv & 2047) - 1024
    else:
        bis = ks = vs = np.empty(0, np.int64)
    dcv = np.cumsum(dc_diffs)
    flat_px = np.clip(
        np.floor(dcv * (qt[0, 0] / 8.0) + 128.5), 0, 255
    ).astype(np.uint8)
    out8 = np.repeat(
        np.repeat(flat_px.reshape(bh, bw_), 8, axis=1).reshape(bh, bw_ * 8),
        8, axis=0,
    )
    if len(bis):
        # zigzag positions map straight into the 8×8 layout (blk[:, _ZZ[k]])
        ub, inv = np.unique(bis, return_inverse=True)
        blk = np.zeros((len(ub), 64), np.int64)
        blk[inv, _ZZ[ks]] = vs
        blk[:, 0] = dcv[ub]
        coef = blk * qt.reshape(-1)                       # stays flat (n, 64)
        pix = coef.astype(np.float64) @ _KRON_IDCT_T      # DCTᵀ @ C @ DCT
        pix8 = np.clip(np.floor(pix + 128.5), 0, 255).astype(np.uint8)
        by, bx = ub // bw_, ub % bw_
        view = out8.reshape(bh, 8, bw_, 8)
        view[by, :, bx, :] = pix8.reshape(-1, 8, 8)
    return out8[:h, :w]
