"""Pure-python baseline JPEG codec (ITU-T T.81 / JFIF) on numpy.

Fallback backend for :class:`CompressedImageCodec` when no image
library (PIL/OpenCV) is importable — real ``.jpg`` byte streams
written by any standard encoder decode to numpy arrays, and
:func:`jpeg_encode` writes real baseline JFIF bytes any standard
decoder opens. Parity surface: the reference en/decodes jpeg via
OpenCV (/root/reference/petastorm/codecs.py:58-130).

Decode scope (enough for tensor-codec parity, not a general library):

  - baseline DCT (SOF0) and extended sequential (SOF1), 8-bit;
  - grayscale or 3-component YCbCr, any integer sampling-factor
    combination (4:4:4, 4:2:2, 4:2:0 all covered);
  - restart intervals (DRI / RSTn);
  - interleaved single-scan frames, plus single-component scans.

Progressive (SOF2), hierarchical, arithmetic-coded, and 12-bit frames
raise NotImplementedError.

Encode scope: baseline SOF0, 8-bit grayscale or RGB (written 4:4:4
YCbCr), Annex-K quantization tables scaled by the libjpeg quality
formula, and per-image OPTIMAL Huffman tables (two-pass: symbol
frequencies -> length-limited canonical code per T.81 Annex K.2) —
emitting the computed DHT rather than transcribing the fixed Annex-K
"typical" tables; every conforming decoder reads the DHT either way.
"""

from __future__ import annotations

import numpy as np

# Zigzag scan order: stream index k -> (row, col) in the 8x8 block.
# Generated, not transcribed: diagonal d runs bottom-left->top-right
# when even, top-right->bottom-left when odd (T.81 figure A.6).
_ZZ = [
    (r, d - r)
    for d in range(15)
    for r in (
        range(min(d, 7), max(0, d - 7) - 1, -1)
        if d % 2 == 0
        else range(max(0, d - 7), min(d, 7) + 1)
    )
]
_ZIG_ROW = np.array([r for r, _ in _ZZ])
_ZIG_COL = np.array([c for _, c in _ZZ])

# 8x8 IDCT basis: f = M @ F @ M.T with M[x, u] = c(u)/2 cos((2x+1)u pi/16)
_IDCT_M = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for u in range(8)
        ]
        for x in range(8)
    ]
)


class _BitReader:
    """MSB-first bit reader over an unstuffed entropy-coded segment."""

    __slots__ = ("data", "pos", "val", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.val = 0
        self.nbits = 0

    def receive(self, n: int) -> int:
        while self.nbits < n:
            b = self.data[self.pos] if self.pos < len(self.data) else 0
            self.pos += 1
            self.val = (self.val << 8) | b
            self.nbits += 8
        self.nbits -= n
        out = (self.val >> self.nbits) & ((1 << n) - 1)
        self.val &= (1 << self.nbits) - 1
        return out


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: map the s-bit magnitude code to its signed value."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _build_huffman(bits: list[int], vals: bytes) -> dict[tuple[int, int], int]:
    """Canonical Huffman table: (code_length, code) -> symbol."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.receive(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("corrupt JPEG: invalid Huffman code")


def _decode_block(br, dc_tbl, ac_tbl, pred: int, qtab: np.ndarray):
    """One 8x8 block: Huffman -> dequant -> IDCT. Returns (pixels, pred)."""
    coef = np.zeros(64)
    s = _huff_decode(br, dc_tbl)
    pred += _extend(br.receive(s), s) if s else 0
    coef[0] = pred * qtab[0]
    k = 1
    while k < 64:
        rs = _huff_decode(br, ac_tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r != 15:
                break  # EOB
            k += 16  # ZRL: 16 zeros
            continue
        k += r
        if k > 63:
            raise ValueError("corrupt JPEG: AC index past block end")
        coef[k] = _extend(br.receive(s), s) * qtab[k]
        k += 1
    block = np.zeros((8, 8))
    block[_ZIG_ROW, _ZIG_COL] = coef  # qtab is stored zigzag too
    return _IDCT_M @ block @ _IDCT_M.T + 128.0, pred


def _split_entropy(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Unstuff the entropy-coded data from ``start``; split on RSTn.
    Returns (segments, index of the next real marker's 0xFF)."""
    segments: list[bytes] = []
    cur = bytearray()
    j = start
    n = len(data)
    while j < n:
        b = data[j]
        if b != 0xFF:
            cur.append(b)
            j += 1
            continue
        nb = data[j + 1] if j + 1 < n else 0xD9
        if nb == 0x00:
            cur.append(0xFF)
            j += 2
        elif 0xD0 <= nb <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            j += 2
        else:
            break
    segments.append(bytes(cur))
    return segments, j


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode baseline JPEG bytes to (H, W) uint8 grayscale or
    (H, W, 3) uint8 RGB (JFIF YCbCr -> RGB conversion)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG byte stream (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    i = 2
    while i < len(data) - 1:
        if data[i] != 0xFF:
            i += 1  # padding/garbage between segments
            continue
        m = data[i + 1]
        i += 2
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            continue
        if m == 0xD9:  # EOI
            break
        ln = int.from_bytes(data[i : i + 2], "big")
        seg = data[i + 2 : i + ln]
        i += ln
        if m == 0xDB:  # DQT (possibly several tables per segment)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq:  # 16-bit table
                    qt[tq] = np.frombuffer(
                        seg[p : p + 128], dtype=">u2"
                    ).astype(np.float64)
                    p += 128
                else:
                    qt[tq] = np.frombuffer(
                        seg[p : p + 64], dtype=np.uint8
                    ).astype(np.float64)
                    p += 64
        elif m in (0xC0, 0xC1):  # SOF0/SOF1: baseline-decodable
            prec = seg[0]
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG not supported")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                if not (1 <= hv >> 4 <= 4 and 1 <= hv & 0x0F <= 4):
                    raise ValueError("corrupt JPEG: sampling factor outside 1..4")
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline/extended-sequential JPEG is supported "
                f"(SOF marker 0xFF{m:02X})"
            )
        elif m == 0xC4:  # DHT (possibly several tables per segment)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = seg[p + 17 : p + 17 + nv]
                huff[(tc, th)] = _build_huffman(bits, vals)
                p += 17 + nv
        elif m == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[:2], "big")
        elif m == 0xDA:  # SOS -> entropy-coded data follows
            if frame is None:
                raise ValueError("corrupt JPEG: SOS before SOF")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tables = seg[1 + 2 * c : 3 + 2 * c]
                comp = next((x for x in frame["comps"] if x["id"] == cs), None)
                dc, ac = huff.get((0, tables >> 4)), huff.get((1, tables & 0x0F))
                if comp is None or comp["tq"] not in qt or dc is None or ac is None:
                    raise ValueError(
                        "corrupt JPEG: scan names an undefined component or table"
                    )
                scan.append((comp, dc, ac))
            segments, i = _split_entropy(data, i)
            _decode_scan(frame, scan, qt, segments, restart_interval)
        # else: APPn / COM / DNL etc. — skipped
    if frame is None or "planes" not in frame:
        raise ValueError("corrupt JPEG: no decoded scan")
    return _assemble(frame)


def _decode_scan(frame, scan, qt, segments, restart_interval) -> None:
    """Decode one (baseline: the only) scan into per-component planes."""
    h, w = frame["h"], frame["w"]
    max_h = max(c["h"] for c in frame["comps"])
    max_v = max(c["v"] for c in frame["comps"])
    planes = frame.setdefault("planes", {})
    mcus_x = -(-w // (8 * max_h))
    mcus_y = -(-h // (8 * max_v))
    for comp, _, _ in scan:
        planes.setdefault(
            comp["id"],
            np.zeros((mcus_y * comp["v"] * 8, mcus_x * comp["h"] * 8)),
        )
    pred = {comp["id"]: 0 for comp, _, _ in scan}
    seg_iter = iter(segments)
    br = _BitReader(next(seg_iter))
    interleaved = len(scan) > 1

    if interleaved:
        total_mcus = mcus_x * mcus_y
        units = [
            (comp, dc, ac, by, bx)
            for comp, dc, ac in scan
            for by in range(comp["v"])
            for bx in range(comp["h"])
        ]
        for mcu in range(total_mcus):
            if restart_interval and mcu and mcu % restart_interval == 0:
                br = _BitReader(next(seg_iter))  # RSTn: realign + reset DC
                pred = dict.fromkeys(pred, 0)
            my, mx = divmod(mcu, mcus_x)
            for comp, dc, ac, by, bx in units:
                pix, pred[comp["id"]] = _decode_block(
                    br, dc, ac, pred[comp["id"]], qt[comp["tq"]]
                )
                y0 = (my * comp["v"] + by) * 8
                x0 = (mx * comp["h"] + bx) * 8
                planes[comp["id"]][y0 : y0 + 8, x0 : x0 + 8] = pix
    else:
        comp, dc, ac = scan[0]
        # non-interleaved: the scan covers the component's own sampled
        # resolution, one block per MCU
        cw = -(-(w * comp["h"]) // max_h)
        ch = -(-(h * comp["v"]) // max_v)
        bw, bh = -(-cw // 8), -(-ch // 8)
        plane = planes[comp["id"]]
        if plane.shape[0] < bh * 8 or plane.shape[1] < bw * 8:
            grown = np.zeros((max(plane.shape[0], bh * 8), max(plane.shape[1], bw * 8)))
            grown[: plane.shape[0], : plane.shape[1]] = plane
            planes[comp["id"]] = plane = grown
        for blk in range(bw * bh):
            if restart_interval and blk and blk % restart_interval == 0:
                br = _BitReader(next(seg_iter))
                pred = dict.fromkeys(pred, 0)
            by, bx = divmod(blk, bw)
            pix, pred[comp["id"]] = _decode_block(
                br, dc, ac, pred[comp["id"]], qt[comp["tq"]]
            )
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = pix


def _assemble(frame) -> np.ndarray:
    """Upsample component planes to full resolution, convert to RGB."""
    h, w = frame["h"], frame["w"]
    max_h = max(c["h"] for c in frame["comps"])
    max_v = max(c["v"] for c in frame["comps"])
    full = []
    for comp in frame["comps"]:
        plane = frame["planes"][comp["id"]]
        plane = np.repeat(plane, max_v // comp["v"], axis=0)
        plane = np.repeat(plane, max_h // comp["h"], axis=1)
        full.append(plane[:h, :w])
    if len(full) == 1:
        return np.clip(full[0], 0, 255).astype(np.uint8)
    if len(full) != 3:
        raise NotImplementedError(f"{len(full)}-component JPEG not supported")
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(rgb, 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

# Annex K.1/K.2 reference quantization tables (luminance / chrominance),
# listed in natural (row-major) order.
_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.float64,
).reshape(8, 8)

_QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.float64,
).reshape(8, 8)


def _scale_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 1..100 -> scaled Annex-K table."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    return np.clip(np.floor((base * scale + 50) / 100), 1, 255)


def _huffman_code_lengths(freqs: dict[int, int]) -> dict[int, int]:
    """Length-limited (<=16) Huffman code lengths per T.81 Annex K.2:
    the classic codesize/others chains, a reserved sentinel so no real
    symbol gets the all-ones code, then Adjust_BITS."""
    freq = dict(freqs)
    freq[256] = 1  # sentinel: will absorb the longest (all-ones) code
    codesize = dict.fromkeys(freq, 0)
    others = dict.fromkeys(freq, None)
    while True:
        active = [(f, s) for s, f in freq.items() if f > 0]
        if len(active) < 2:
            break
        active.sort()
        (f1, v1), (f2, v2) = active[0], active[1]
        freq[v1] = f1 + f2
        freq[v2] = 0
        while True:
            codesize[v1] += 1
            if others[v1] is None:
                break
            v1 = others[v1]
        others[v1] = v2
        while True:
            codesize[v2] += 1
            if others[v2] is None:
                break
            v2 = others[v2]
    bits = [0] * 33
    for s, size in codesize.items():
        if size:
            bits[size] += 1
    # Adjust_BITS: fold lengths >16 down (Figure K.3)
    for i in range(32, 16, -1):
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    # drop the sentinel: it holds the longest code (largest codesize)
    longest = max(i for i in range(17) if bits[i] > 0)
    bits[longest] -= 1
    # reassign lengths canonically: symbols sorted by (codesize, value),
    # sentinel excluded, lengths drawn from the adjusted BITS
    real = sorted(
        (s for s in freqs if codesize.get(s, 0) > 0 and s != 256),
        key=lambda s: (codesize[s], s),
    )
    lengths = {}
    it = iter(real)
    for ln in range(1, 17):
        for _ in range(bits[ln]):
            lengths[next(it)] = ln
    return lengths


def _canonical_codes(lengths: dict[int, int]) -> tuple[list[int], bytes, dict]:
    """(BITS, HUFFVAL, {symbol: (code, length)}) for a DHT segment."""
    by_len = sorted(lengths.items(), key=lambda kv: (kv[1], kv[0]))
    bits = [0] * 16
    vals = []
    for s, ln in by_len:
        bits[ln - 1] += 1
        vals.append(s)
    codes = {}
    code = 0
    prev_len = by_len[0][1] if by_len else 1
    for s, ln in by_len:
        code <<= ln - prev_len
        prev_len = ln
        codes[s] = (code, ln)
        code += 1
    return bits, bytes(vals), codes


class _BitWriter:
    """MSB-first bit writer with 0xFF byte stuffing."""

    __slots__ = ("out", "val", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.val = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.val = (self.val << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.val >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.val &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


def _csize(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _block_symbols(q: np.ndarray, pred: int):
    """Quantized zigzag block -> (dc_symbol, dc_bits, [(ac_sym, bits)],
    new_pred). bits are (value, length) magnitude codes."""
    zz = q[_ZIG_ROW, _ZIG_COL].astype(np.int64)
    dc_diff = int(zz[0]) - pred
    s = _csize(dc_diff)
    dc_bits = (dc_diff if dc_diff >= 0 else dc_diff + (1 << s) - 1, s)
    acs = []
    run = 0
    # index of the last nonzero AC coefficient bounds the loop
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            acs.append((0xF0, (0, 0)))  # ZRL
            run -= 16
        s = _csize(v)
        acs.append(((run << 4) | s, (v if v >= 0 else v + (1 << s) - 1, s)))
        run = 0
    if last < 63:
        acs.append((0x00, (0, 0)))  # EOB
    return zz[0], dc_bits, acs


def _plane_blocks(plane: np.ndarray, qtab: np.ndarray):
    """All quantized 8x8 blocks of a padded plane, raster order, as one
    vectorized DCT + quantize pass (B, 8, 8)."""
    h, w = plane.shape
    blocks = (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    f = _IDCT_M.T @ (blocks - 128.0) @ _IDCT_M  # orthonormal: forward = M.T () M
    return np.round(f / qtab).astype(np.int64)


def jpeg_encode(arr: np.ndarray, quality: int = 80) -> bytes:
    """Baseline JFIF bytes for an HxW (grayscale) or HxWx3 (RGB) uint8
    array. 4:4:4 sampling; per-image optimal Huffman tables."""
    arr = np.asarray(arr)
    if arr.dtype != np.uint8:
        raise ValueError(f"jpeg_encode expects uint8, got {arr.dtype}")
    if arr.ndim == 2:
        ncomp = 1
    elif arr.ndim == 3 and arr.shape[2] == 3:
        ncomp = 3
    else:
        raise ValueError(f"jpeg_encode expects HxW or HxWx3, got {arr.shape}")
    h, w = int(arr.shape[0]), int(arr.shape[1])
    if ncomp == 3:
        r, g, b = (arr[..., i].astype(np.float64) for i in range(3))
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
        ]
    else:
        planes = [arr.astype(np.float64)]
    qts = [_scale_qtable(_QT_LUMA, quality), _scale_qtable(_QT_CHROMA, quality)]
    # pad to 8 by edge replication (less ringing than zero padding)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    quantized = []
    for ci, p in enumerate(planes):
        p = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
        quantized.append(_plane_blocks(p, qts[1 if ci else 0]))

    # pass 1: symbol statistics (per table class, luma vs chroma)
    dc_freq = [dict(), dict()]
    ac_freq = [dict(), dict()]
    all_syms = []  # [(tbl, dc_sym, dc_bits, acs)] per block in scan order
    nblocks = quantized[0].shape[0]
    preds = [0] * len(planes)
    for bi in range(nblocks):
        for ci in range(len(planes)):
            tbl = 1 if ci else 0
            preds[ci], dc_bits, acs = _block_symbols(quantized[ci][bi], preds[ci])
            dc_sym = dc_bits[1]
            dc_freq[tbl][dc_sym] = dc_freq[tbl].get(dc_sym, 0) + 1
            for sym, _ in acs:
                ac_freq[tbl][sym] = ac_freq[tbl].get(sym, 0) + 1
            all_syms.append((tbl, dc_sym, dc_bits, acs))

    ntab = 2 if ncomp == 3 else 1
    dc_tabs = [_canonical_codes(_huffman_code_lengths(dc_freq[t])) for t in range(ntab)]
    ac_tabs = [_canonical_codes(_huffman_code_lengths(ac_freq[t])) for t in range(ntab)]

    # pass 2: entropy-coded segment
    bw = _BitWriter()
    for tbl, dc_sym, dc_bits, acs in all_syms:
        code, ln = dc_tabs[tbl][2][dc_sym]
        bw.write(code, ln)
        if dc_sym:
            bw.write(dc_bits[0], dc_bits[1])
        for sym, (v, s) in acs:
            code, ln = ac_tabs[tbl][2][sym]
            bw.write(code, ln)
            if s:
                bw.write(v, s)
    ecs = bw.flush()

    # ---- assemble segments ----
    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for ti in range(ntab):
        zz = qts[ti][_ZIG_ROW, _ZIG_COL].astype(np.uint8)
        out += seg(0xDB, bytes([ti]) + zz.tobytes())
    comp_spec = b"".join(
        bytes([cid + 1, 0x11, 1 if cid else 0]) for cid in range(ncomp)
    )
    out += seg(
        0xC0,
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([ncomp]) + comp_spec,
    )
    for ti in range(ntab):
        bits, vals, _ = dc_tabs[ti]
        out += seg(0xC4, bytes([ti]) + bytes(bits) + vals)
        bits, vals, _ = ac_tabs[ti]
        out += seg(0xC4, bytes([0x10 | ti]) + bytes(bits) + vals)
    scan_spec = b"".join(
        bytes([cid + 1, 0x11 if cid else 0x00]) for cid in range(ncomp)
    )
    out += seg(0xDA, bytes([ncomp]) + scan_spec + b"\x00\x3f\x00")
    out += ecs
    out += b"\xff\xd9"
    return bytes(out)
