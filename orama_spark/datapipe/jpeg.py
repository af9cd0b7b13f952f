"""JPEG (ITU-T T.81, JFIF) codec in pure numpy + stdlib — closes the
r4 "JPEG remains stubbed" gap (VERDICT Missing #2) without any codec
library.

Decoder: marker parse (DQT/SOF/DHT/DRI/SOS), Huffman entropy decode
with byte-stuffing and RSTn restart handling, dequantize, exact 8x8
IDCT via the orthonormal DCT-II basis (one matmul pair per block),
nearest-neighbour chroma upsampling (4:4:4 / 4:2:2 / 4:2:0), JFIF
YCbCr->RGB. Both BASELINE sequential (SOF0/SOF1) and PROGRESSIVE
(SOF2 — spectral selection + successive approximation, multi-scan
coefficient accumulation per T.81 Annex G, r5) decode. Grayscale
(1-component) and color (3-component YCbCr) only; arithmetic coding,
12-bit and hierarchical modes raise ValueError.

Encoders: the matching test fixtures — forward DCT + quantize,
canonical fixed-length Huffman tables computed from the symbols
actually used (valid per-image DHT; compression-suboptimal by
design), optional 2x2 chroma subsampling and restart intervals, so
round-trips exercise every decoder path. ``encode_jpeg`` emits
baseline; ``encode_jpeg_progressive`` emits a libjpeg-style scan
script (DC first/refine, spectral AC bands, two successive-
approximation levels with real EOB-run and correction-bit emission)
from the SAME quantized coefficients, so the two encodings of any
image must decode bit-identically — the differential gate for the
progressive paths. With flat (all-ones) quantization tables a
solid-color image round-trips EXACTLY (DC of a constant block is the
only nonzero coefficient and is integral), which is what the driver
oracle's closed form relies on.

All rounding at the color-transform boundaries is floor(x + 0.5)
(portable to the DuckDB oracle, which replicates the RGB->YCbCr->RGB
pipeline in SQL; numpy's round() is banker's and DuckDB's is
half-away-from-zero, so neither is used).

Everything here derives from the public T.81 / JFIF 1.02 specs.
"""

from __future__ import annotations

import numpy as np

# --------------------------------------------------------------- DCT

def _dct_basis() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis A: coefs = A @ block @ A.T and
    block = A.T @ coefs @ A (A is orthogonal)."""
    n = np.arange(8)
    k = n.reshape(-1, 1)
    a = np.cos((2 * n + 1) * k * np.pi / 16) / 2.0
    a[0] /= np.sqrt(2.0)
    return a


_A = _dct_basis()


def _zigzag_order() -> np.ndarray:
    """The 64-entry zigzag scan order, generated (not transcribed) so
    there is no table to typo: walk anti-diagonals, alternating
    direction."""
    order = []
    for s in range(15):
        ij = [(i, s - i) for i in range(max(0, s - 7), min(7, s) + 1)]
        if s % 2 == 0:
            ij.reverse()  # even diagonals run bottom-left -> top-right
        order.extend(i * 8 + j for i, j in ij)
    return np.array(order, dtype=np.int64)


_ZZ = _zigzag_order()          # zigzag index -> raster index
_ZZ_INV = np.argsort(_ZZ)      # raster index -> zigzag index

FLAT_QUANT = np.ones(64, dtype=np.int64)

# T.81 Annex K.1 luminance / chrominance tables (public spec), raster
# order after un-zigzag; stored here zigzag-ordered as the spec prints
# would be error-prone, so keep them as the spec's zigzag sequences and
# let _ZZ do the mapping at use sites. These are only encoder defaults
# for lossy (PSNR-graded) round-trip tests.
STD_LUMA_QUANT = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)  # raster order
STD_CHROMA_QUANT = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF full-range RGB -> YCbCr, floor(x+0.5) rounding, uint8."""
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    out = np.stack([y, cb, cr], axis=-1)
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    """JFIF YCbCr -> RGB, floor(x+0.5) rounding, uint8. The DuckDB
    driver oracle replicates this formula (same constants, same
    floor-rounding) — keep them in lockstep."""
    y = ycc[..., 0].astype(np.float64)
    cb = ycc[..., 1].astype(np.float64) - 128.0
    cr = ycc[..., 2].astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


# ------------------------------------------------------------ decoder

class _BitReader:
    """MSB-first bit reader over the entropy-coded segment, handling
    0xFF00 byte stuffing; stops (raises) at any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.d):
            raise ValueError("truncated JPEG scan")
        byte = self.d[self.pos]
        if byte == 0xFF:
            nxt = self.d[self.pos + 1] if self.pos + 1 < len(self.d) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                # marker inside scan — T.81 pads the tail with 1-bits
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self) -> None:
        """Byte-align and consume an RSTn marker."""
        self.acc = 0
        self.nbits = 0
        while self.pos + 1 < len(self.d) and self.d[self.pos] == 0xFF \
                and self.d[self.pos + 1] == 0xFF:
            self.pos += 1  # fill bytes
        if (
            self.pos + 1 >= len(self.d)
            or self.d[self.pos] != 0xFF
            or not (0xD0 <= self.d[self.pos + 1] <= 0xD7)
        ):
            raise ValueError("expected RST marker")
        self.pos += 2


def _build_huff(bits: list[int], vals: list[int]) -> dict:
    """DHT (BITS, HUFFVAL) -> {(length, code): value} canonical map."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(br: _BitReader, table: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.read_bit()
        v = table.get((ln, code))
        if v is not None:
            return v
    raise ValueError("bad Huffman code")


def _extend(v: int, t: int) -> int:
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(b: bytes) -> np.ndarray:
    """JFIF bytes -> (H, W, 3) uint8 RGB (grayscale broadcast).
    Baseline sequential (SOF0/SOF1) AND progressive (SOF2: spectral
    selection + successive approximation, T.81 Annex G) are decoded;
    arithmetic coding, 12-bit and hierarchical modes raise
    ValueError."""
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    restart_interval = 0
    frame = None  # (H, W, [(cid, h, v, tq), ...])
    progressive = False
    coef = None  # progressive: per-comp (bh, bw, 64) int64, zigzag order
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"marker sync lost at {pos}")
        m = b[pos + 1]
        if 0xD0 <= m <= 0xD7:  # stray RSTn between scans: skip
            pos += 2
            continue
        if m == 0xD9:  # EOI
            break
        seg_len = (b[pos + 2] << 8) | b[pos + 3]
        seg = b[pos + 4 : pos + 2 + seg_len]
        if m == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                if pq == 0:
                    tab = np.frombuffer(seg[i : i + 64], dtype=np.uint8)
                    i += 64
                else:
                    tab = np.frombuffer(seg[i : i + 128], dtype=">u2")
                    i += 128
                q = np.zeros(64, dtype=np.int64)
                q[_ZZ] = tab.astype(np.int64)  # de-zigzag to raster
                qt[tq] = q
        elif m in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1 (seq.) / SOF2 (prog.)
            prec = seg[0]
            if prec != 8:
                raise ValueError(f"unsupported precision {prec}")
            h = (seg[1] << 8) | seg[2]
            w = (seg[3] << 8) | seg[4]
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid = seg[6 + 3 * c]
                hv = seg[7 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0xF, seg[8 + 3 * c]))
            frame = (h, w, comps)
            if m == 0xC2:
                progressive = True
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                coef = [
                    np.zeros((mcuy * cv, mcux * ch, 64), dtype=np.int64)
                    for _, ch, cv, _tq in comps
                ]
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                   0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only sequential (SOF0/SOF1) and progressive (SOF2) "
                "Huffman modes are supported"
            )
        elif m == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17 : i + 17 + nv])
                tab = _build_huff(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = tab
                i += 17 + nv
        elif m == 0xDD:  # DRI
            restart_interval = (seg[0] << 8) | seg[1]
        elif m == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            if not progressive:
                return _decode_scan(
                    b, pos + 2 + seg_len, seg, frame, qt, huff_dc,
                    huff_ac, restart_interval,
                )
            pos = _decode_prog_scan(
                b, pos + 2 + seg_len, seg, frame, coef, huff_dc,
                huff_ac, restart_interval,
            )
            continue
        # APPn / COM / others: skip
        pos += 2 + seg_len
    if progressive and coef is not None:
        return _reconstruct_progressive(frame, coef, qt)
    raise ValueError("no SOS marker")


def _decode_scan(b, scan_pos, sos, frame, qt, huff_dc, huff_ac, dri):
    h_img, w_img, comps = frame
    ns = sos[0]
    sel = {}
    for i in range(ns):
        cs = sos[1 + 2 * i]
        td, ta = sos[2 + 2 * i] >> 4, sos[2 + 2 * i] & 0xF
        sel[cs] = (td, ta)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w_img // (8 * hmax))
    mcuy = -(-h_img // (8 * vmax))
    planes = []
    for cid, ch, cv, tq in comps:
        planes.append(np.zeros((mcuy * cv * 8, mcux * ch * 8),
                               dtype=np.float64))
    br = _BitReader(b, scan_pos)
    pred = [0] * len(comps)
    for my in range(mcuy):
        for mx in range(mcux):
            n_mcu = my * mcux + mx
            if dri and n_mcu > 0 and n_mcu % dri == 0:
                br.restart()
                pred = [0] * len(comps)
            for ci, (cid, ch, cv, tq) in enumerate(comps):
                td, ta = sel[cid]
                dctab, actab = huff_dc[td], huff_ac[ta]
                q = qt[tq]
                for by in range(cv):
                    for bx in range(ch):
                        zz = np.zeros(64, dtype=np.int64)
                        t = _huff_decode(br, dctab)
                        diff = _extend(br.receive(t), t)
                        pred[ci] += diff
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(br, actab)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index overflow")
                            zz[k] = _extend(br.receive(s), s)
                            k += 1
                        coefs = np.zeros(64, dtype=np.float64)
                        coefs[_ZZ] = zz  # de-zigzag
                        block = (coefs * q).reshape(8, 8)
                        spat = _A.T @ block @ _A + 128.0
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = spat
    # clip, upsample to full res, crop
    full = []
    for ci, (cid, ch, cv, tq) in enumerate(comps):
        p = np.clip(np.floor(planes[ci] + 0.5), 0, 255)
        if ch != hmax or cv != vmax:
            p = np.repeat(np.repeat(p, vmax // cv, axis=0),
                          hmax // ch, axis=1)
        full.append(p[:h_img, :w_img])
    if len(full) == 1:
        g = full[0].astype(np.uint8)
        return np.repeat(g[..., None], 3, axis=2)
    ycc = np.stack(full, axis=-1)
    return _ycbcr_to_rgb(ycc)


def _decode_prog_scan(b, scan_pos, sos, frame, coef, huff_dc, huff_ac,
                      dri) -> int:
    """One progressive scan (T.81 Annex G.2, Huffman): accumulate into
    the per-component zigzag coefficient store and return the byte
    position of the marker that terminated the scan's entropy data.

    Implements all four scan kinds: DC first (diff << Al), DC
    refinement (one appended bit per block), AC first (EOB runs, ZRL,
    values << Al) and AC refinement (G.1.2.3: correction bits for
    nonzero-history coefficients interleaved with zero-history runs).
    """
    h_img, w_img, comps = frame
    ns = sos[0]
    scomps = []
    for i in range(ns):
        cs = sos[1 + 2 * i]
        td, ta = sos[2 + 2 * i] >> 4, sos[2 + 2 * i] & 0xF
        ci = next((j for j, c in enumerate(comps) if c[0] == cs), None)
        if ci is None:
            raise ValueError(f"scan references unknown component {cs}")
        scomps.append((ci, td, ta))
    ss = sos[1 + 2 * ns]
    se = sos[2 + 2 * ns]
    ah = sos[3 + 2 * ns] >> 4
    al = sos[3 + 2 * ns] & 0xF
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w_img // (8 * hmax))
    mcuy = -(-h_img // (8 * vmax))
    br = _BitReader(b, scan_pos)
    p1 = 1 << al

    def dc_first(blk, ci, preds, td):
        t = _huff_decode(br, huff_dc[td])
        preds[ci] += _extend(br.receive(t), t)
        blk[0] = preds[ci] << al

    def dc_refine(blk):
        if br.read_bit():
            blk[0] = int(blk[0]) | p1

    state = {"eobrun": 0}

    def ac_first(blk, ta):
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        k = ss
        while k <= se:
            rs = _huff_decode(br, huff_ac[ta])
            r, s2 = rs >> 4, rs & 0xF
            if s2 == 0:
                if r != 15:
                    state["eobrun"] = (1 << r) - 1
                    if r:
                        state["eobrun"] += br.receive(r)
                    break
                k += 16  # ZRL
            else:
                k += r
                if k > se:
                    raise ValueError("AC index overflow")
                blk[k] = _extend(br.receive(s2), s2) << al
                k += 1

    def _refine_nonzero(blk, k):
        """Correction bit for a coefficient with nonzero history."""
        if br.read_bit():
            v = int(blk[k])
            if (v & p1) == 0:
                blk[k] = v + (p1 if v >= 0 else -p1)

    def ac_refine(blk, ta):
        k = ss
        if state["eobrun"] == 0:
            while k <= se:
                rs = _huff_decode(br, huff_ac[ta])
                r, s2 = rs >> 4, rs & 0xF
                if s2 == 0:
                    if r != 15:
                        state["eobrun"] = 1 << r
                        if r:
                            state["eobrun"] += br.receive(r)
                        break
                    val = 0  # ZRL: 16 zero-history coefficients
                else:
                    if s2 != 1:
                        raise ValueError("bad AC refinement symbol")
                    val = p1 if br.read_bit() else -p1
                while k <= se:
                    if blk[k] != 0:
                        _refine_nonzero(blk, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if s2 and k <= se:
                    blk[k] = val
                k += 1
        if state["eobrun"] > 0:
            while k <= se:
                if blk[k] != 0:
                    _refine_nonzero(blk, k)
                k += 1
            state["eobrun"] -= 1

    if ss == 0:  # DC scan (interleaved or single-component)
        if se != 0:
            raise ValueError("DC scan with Se != 0")
        preds = {ci: 0 for ci, _, _ in scomps}
        n = 0
        if ns > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    if dri and n and n % dri == 0:
                        br.restart()
                        preds = {ci: 0 for ci, _, _ in scomps}
                    for ci, td, _ta in scomps:
                        _cid, ch, cv, _tq = comps[ci]
                        for by in range(cv):
                            for bx in range(ch):
                                blk = coef[ci][my * cv + by, mx * ch + bx]
                                if ah == 0:
                                    dc_first(blk, ci, preds, td)
                                else:
                                    dc_refine(blk)
                    n += 1
            return br.pos
        # fall through: ns == 1 uses the non-interleaved walk below

    ci, td, ta = scomps[0]
    _cid, ch, cv, _tq = comps[ci]
    comp_w = -(-w_img * ch // hmax)
    comp_h = -(-h_img * cv // vmax)
    bw_t = -(-comp_w // 8)
    bh_t = -(-comp_h // 8)
    preds = {ci: 0}
    n = 0
    for by in range(bh_t):
        for bx in range(bw_t):
            if dri and n and n % dri == 0:
                br.restart()
                preds[ci] = 0
                state["eobrun"] = 0
            blk = coef[ci][by, bx]
            if ss == 0:
                if ah == 0:
                    dc_first(blk, ci, preds, td)
                else:
                    dc_refine(blk)
            elif ah == 0:
                ac_first(blk, ta)
            else:
                ac_refine(blk, ta)
            n += 1
    return br.pos


def _reconstruct_progressive(frame, coef, qt) -> np.ndarray:
    """Dequantize + IDCT the accumulated progressive coefficients.
    Same per-block expressions as the baseline path so a progressive
    encode of identical quantized coefficients reconstructs the exact
    same pixels."""
    h_img, w_img, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    full = []
    for ci, (_cid, ch, cv, tq) in enumerate(comps):
        q = qt[tq]
        arr = coef[ci]
        bh, bw = arr.shape[:2]
        plane = np.zeros((bh * 8, bw * 8), dtype=np.float64)
        for by in range(bh):
            for bx in range(bw):
                coefs = np.zeros(64, dtype=np.float64)
                coefs[_ZZ] = arr[by, bx]
                block = (coefs * q).reshape(8, 8)
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _A.T @ block @ _A + 128.0
                )
        p = np.clip(np.floor(plane + 0.5), 0, 255)
        if ch != hmax or cv != vmax:
            p = np.repeat(np.repeat(p, vmax // cv, axis=0),
                          hmax // ch, axis=1)
        full.append(p[:h_img, :w_img])
    if len(full) == 1:
        g = full[0].astype(np.uint8)
        return np.repeat(g[..., None], 3, axis=2)
    ycc = np.stack(full, axis=-1)
    return _ycbcr_to_rgb(ycc)


# ------------------------------------------------------------ encoder

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, n: int) -> None:
        self.acc = (self.acc << n) | (code & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


def _mag_cat(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _mag_bits(v: int, t: int) -> int:
    return v if v >= 0 else v + (1 << t) - 1


def _fixed_len_table(symbols: set[int]) -> tuple[list[int], list[int], dict]:
    """Canonical fixed-length Huffman table covering ``symbols``:
    every symbol gets length L = ceil(log2(N+1)) so the all-ones code
    (forbidden by T.81) stays unused. Deterministic (symbols sorted),
    trivially valid, compression-suboptimal on purpose."""
    syms = sorted(symbols) if symbols else [0]
    n = len(syms)
    ln = max(1, (n + 1 - 1).bit_length())
    if (1 << ln) - 1 < n:
        ln += 1
    bits = [0] * 16
    bits[ln - 1] = n
    enc = {s: (ln, i) for i, s in enumerate(syms)}
    return bits, syms, enc


def _component_blocks(plane: np.ndarray, quant: np.ndarray):
    """Pad a component plane to 8-multiples (edge replication), DCT +
    quantize every block; yields zigzag int arrays in raster block
    order."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    p = np.pad(plane.astype(np.float64) - 128.0,
               ((0, ph - h), (0, pw - w)), mode="edge")
    q = quant.reshape(8, 8).astype(np.float64)
    out = []
    for y0 in range(0, ph, 8):
        for x0 in range(0, pw, 8):
            block = p[y0 : y0 + 8, x0 : x0 + 8]
            coefs = _A @ block @ _A.T
            zq = np.floor(coefs / q + 0.5).astype(np.int64)
            # floor(x+0.5) is asymmetric for negatives vs the spec's
            # round-half-away, but any deterministic rule is a valid
            # quantizer choice for an ENCODER; the decoder never cares.
            out.append(zq.reshape(64)[_ZZ])  # raster -> zigzag
    return out, ph // 8, pw // 8


def _subsample2(plane: np.ndarray) -> np.ndarray:
    """2x2 box mean with floor(x+0.5), edge-padded to even dims."""
    h, w = plane.shape
    p = np.pad(plane.astype(np.float64),
               ((0, h % 2), (0, w % 2)), mode="edge")
    s = (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0
    return np.clip(np.floor(s + 0.5), 0, 255)


def _prep_components(arr, quant_luma, quant_chroma, subsample):
    """Shared encoder front end: color transform, optional 4:2:0
    subsampling, per-component DCT+quantize into an MCU-padded block
    grid. Returns (gray, planes, quants, samp, comp_blocks, h_img,
    w_img, hmax, vmax, mcux, mcuy)."""
    gray = arr.ndim == 2
    if gray:
        planes = [arr.astype(np.float64)]
        quants = [quant_luma]
        samp = [(1, 1)]
    else:
        ycc = _rgb_to_ycbcr(arr).astype(np.float64)
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsample:
            cb, cr = _subsample2(cb), _subsample2(cr)
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        qc = quant_chroma if quant_chroma is not None else quant_luma
        quants = [quant_luma, qc, qc]
    h_img, w_img = arr.shape[:2]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w_img // (8 * hmax))
    mcuy = -(-h_img // (8 * vmax))

    # per-component blocks in raster order, padded to MCU coverage
    comp_blocks = []
    for ci, p in enumerate(planes):
        ch, cv = samp[ci]
        blocks, nby, nbx = _component_blocks(p, quants[ci])
        need_y, need_x = mcuy * cv, mcux * ch
        grid = [[blocks[min(by, nby - 1) * nbx + min(bx, nbx - 1)]
                 for bx in range(need_x)] for by in range(need_y)]
        comp_blocks.append(grid)
    return (gray, planes, quants, samp, comp_blocks, h_img, w_img,
            hmax, vmax, mcux, mcuy)


def _emit_headers(out, seg, gray, quants, samp, h_img, w_img,
                  restart_interval, sof_marker):
    """APP0 + DQT(s) + DRI + SOF shared by both encoders."""
    seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")  # APP0
    # DQT payloads are zigzag-ordered; quants[] are raster -> q[_ZZ]
    n_q = 1 if gray or np.array_equal(np.asarray(quants[1]), np.asarray(quants[0])) else 2
    for tq in range(n_q):
        q = np.asarray(quants[tq], dtype=np.int64)
        seg(0xDB, bytes([tq]) + bytes(int(x) for x in q[_ZZ]))
    if restart_interval:
        seg(0xDD, restart_interval.to_bytes(2, "big"))
    sof = bytearray([8])
    sof.extend(h_img.to_bytes(2, "big"))
    sof.extend(w_img.to_bytes(2, "big"))
    sof.append(len(samp))
    for ci in range(len(samp)):
        ch, cv = samp[ci]
        tq = 0 if ci == 0 or n_q == 1 else 1
        sof.extend([ci + 1, (ch << 4) | cv, tq])
    seg(sof_marker, bytes(sof))
    return n_q


def encode_jpeg(
    arr: np.ndarray,
    quant_luma: np.ndarray = FLAT_QUANT,
    quant_chroma: np.ndarray | None = None,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """(H, W, 3) uint8 RGB or (H, W) uint8 gray -> baseline JFIF
    bytes. Defaults to FLAT (all-ones) quantization so solid-color
    images round-trip exactly; pass STD_LUMA_QUANT/STD_CHROMA_QUANT
    for realistic lossy tests. ``subsample=True`` emits 4:2:0."""
    (gray, planes, quants, samp, comp_blocks, h_img, w_img,
     hmax, vmax, mcux, mcuy) = _prep_components(
        arr, quant_luma, quant_chroma, subsample
    )

    # pass 1: symbol statistics per table role (luma=0 / chroma=1)
    dc_syms: list[set] = [set(), set()]
    ac_syms: list[set] = [set(), set()]

    def code_block(zz, pred, role, emit):
        diff = int(zz[0]) - pred
        t = _mag_cat(diff)
        emit("dc", role, t, diff)
        k = 1
        run = 0
        nz = np.nonzero(zz[1:])[0]
        last = (nz[-1] + 1) if len(nz) else 0
        while k <= last:
            v = int(zz[k])
            if v == 0:
                run += 1
            else:
                while run > 15:
                    emit("ac", role, 0xF0, None)  # ZRL
                    run -= 16
                s = _mag_cat(v)
                emit("ac", role, (run << 4) | s, v)
                run = 0
            k += 1
        if last < 63:
            emit("ac", role, 0x00, None)  # EOB
        return int(zz[0])

    def stats_emit(kind, role, sym, _v):
        (dc_syms if kind == "dc" else ac_syms)[role].add(sym)

    pred = [0] * len(planes)
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                pred = [0] * len(planes)
            for ci in range(len(planes)):
                ch, cv = samp[ci]
                role = 0 if ci == 0 else 1
                for by in range(cv):
                    for bx in range(ch):
                        zz = comp_blocks[ci][my * cv + by][mx * ch + bx]
                        pred[ci] = code_block(zz, pred[ci], role, stats_emit)
            n_mcu += 1

    roles = [0] if gray else [0, 1]
    dc_tabs = {r: _fixed_len_table(dc_syms[r]) for r in roles}
    ac_tabs = {r: _fixed_len_table(ac_syms[r]) for r in roles}

    # ---- emit segments
    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, payload: bytes) -> None:
        out.extend(bytes([0xFF, marker]))
        out.extend((len(payload) + 2).to_bytes(2, "big"))
        out.extend(payload)

    _emit_headers(out, seg, gray, quants, samp, h_img, w_img,
                  restart_interval, 0xC0)
    # DHT
    for r in roles:
        for tc, (bits, vals, _enc) in ((0, dc_tabs[r]), (1, ac_tabs[r])):
            seg(0xC4, bytes([(tc << 4) | r]) + bytes(bits) + bytes(vals))
    # SOS
    sos = bytearray([len(planes)])
    for ci in range(len(planes)):
        r = 0 if ci == 0 else 1
        sos.extend([ci + 1, (r << 4) | r])
    sos.extend([0, 63, 0])
    seg(0xDA, bytes(sos))

    bw = _BitWriter()
    dc_enc = {r: dc_tabs[r][2] for r in roles}
    ac_enc = {r: ac_tabs[r][2] for r in roles}

    def write_emit(kind, role, sym, v):
        enc = (dc_enc if kind == "dc" else ac_enc)[role]
        ln, code = enc[sym]
        bw.write(code, ln)
        if kind == "dc":
            t = sym
            if t:
                bw.write(_mag_bits(v, t), t)
        elif v is not None:
            s = sym & 0xF
            bw.write(_mag_bits(v, s), s)

    pred = [0] * len(planes)
    n_mcu = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                bw.flush()
                out.extend(bw.out)
                bw.out = bytearray()
                out.extend(bytes([0xFF, 0xD0 + (rst % 8)]))
                rst += 1
                pred = [0] * len(planes)
            for ci in range(len(planes)):
                ch, cv = samp[ci]
                role = 0 if ci == 0 else 1
                for by in range(cv):
                    for bx in range(ch):
                        zz = comp_blocks[ci][my * cv + by][mx * ch + bx]
                        pred[ci] = code_block(zz, pred[ci], role, write_emit)
            n_mcu += 1
    bw.flush()
    out.extend(bw.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


# ------------------------------------------------ progressive encoder

def _prog_scan_script(gray: bool) -> list:
    """(components, Ss, Se, Ah, Al) per scan — a libjpeg-style simple
    script exercising every progressive decode path: spectral bands,
    Al>0 first scans, AC refinement at two bit levels, DC refinement."""
    if gray:
        return [
            ([0], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2),
            ([0], 6, 63, 0, 2),
            ([0], 1, 63, 2, 1),
            ([0], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0),
        ]
    return [
        ([0, 1, 2], 0, 0, 0, 1),
        ([0], 1, 5, 0, 2),
        ([0], 6, 63, 0, 2),
        ([1], 1, 63, 0, 1),
        ([2], 1, 63, 0, 1),
        ([0], 1, 63, 2, 1),
        ([0, 1, 2], 0, 0, 1, 0),
        ([1], 1, 63, 1, 0),
        ([2], 1, 63, 1, 0),
        ([0], 1, 63, 1, 0),
    ]


def encode_jpeg_progressive(
    arr: np.ndarray,
    quant_luma: np.ndarray = FLAT_QUANT,
    quant_chroma: np.ndarray | None = None,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """(H, W, 3) uint8 RGB or (H, W) uint8 gray -> PROGRESSIVE JFIF
    bytes (SOF2, T.81 Annex G: spectral selection + successive
    approximation, Huffman). Quantizes identically to ``encode_jpeg``,
    so decoding both encodings of the same image yields IDENTICAL
    pixels — the round-trip test the decoder's progressive paths are
    pinned against. EOB runs, ZRL and the G.1.2.3 correction-bit
    buffering are all emitted (not just the degenerate one-block EOB),
    so the decoder's run/refinement logic is actually driven."""
    (gray, planes, quants, samp, comp_blocks, h_img, w_img,
     hmax, vmax, mcux, mcuy) = _prep_components(
        arr, quant_luma, quant_chroma, subsample
    )
    ncomp = len(planes)

    def scan_units(comps_in_scan):
        """Restart units: interleaved scans -> one unit per MCU;
        single-component scans -> one unit per block (true comp dims,
        not the MCU-padded grid)."""
        units = []
        if len(comps_in_scan) > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    unit = []
                    for ci in comps_in_scan:
                        ch, cv = samp[ci]
                        for by in range(cv):
                            for bx in range(ch):
                                unit.append(
                                    (ci, comp_blocks[ci][my * cv + by][mx * ch + bx])
                                )
                    units.append(unit)
        else:
            ci = comps_in_scan[0]
            ch, cv = samp[ci]
            bw_t = -(-(-(-w_img * ch // hmax)) // 8)
            bh_t = -(-(-(-h_img * cv // vmax)) // 8)
            for by in range(bh_t):
                for bx in range(bw_t):
                    units.append([(ci, comp_blocks[ci][by][bx])])
        return units

    def run_scan(scan, sym, bit):
        """Walk one scan emitting (symbol, bits) through callbacks —
        the same deterministic walk serves the statistics pass and the
        write pass. ``sym(kind, role, s)``; ``bit(value, nbits)``."""
        comps_in_scan, ss, se, ah, al = scan
        preds = {ci: 0 for ci in comps_in_scan}
        st = {"eobrun": 0, "br": []}

        def flush_eob(role):
            if st["eobrun"] > 0:
                nb = st["eobrun"].bit_length() - 1
                sym("ac", role, nb << 4)
                if nb:
                    bit(st["eobrun"] - (1 << nb), nb)
                st["eobrun"] = 0
                for bv in st["br"]:
                    bit(bv, 1)
                st["br"] = []

        def dc_first(ci, blk):
            role = 0 if ci == 0 else 1
            t = int(blk[0]) >> al  # arithmetic shift (G.1.2.1)
            diff = t - preds[ci]
            preds[ci] = t
            cat = _mag_cat(diff)
            sym("dc", role, cat)
            if cat:
                bit(_mag_bits(diff, cat), cat)

        def dc_refine(blk):
            bit((int(blk[0]) >> al) & 1, 1)

        def ac_first(ci, blk):
            role = 0 if ci == 0 else 1
            r = 0
            for k in range(ss, se + 1):
                v = int(blk[k])
                t = abs(v) >> al
                if t == 0:
                    r += 1
                    continue
                flush_eob(role)
                while r > 15:
                    sym("ac", role, 0xF0)
                    r -= 16
                s = t.bit_length()
                sym("ac", role, (r << 4) | s)
                bit(_mag_bits(t if v > 0 else -t, s), s)
                r = 0
            if r > 0:
                st["eobrun"] += 1
                if st["eobrun"] == 0x7FFF:
                    flush_eob(role)

        def ac_refine(ci, blk):
            role = 0 if ci == 0 else 1
            absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
            eobpos = -1  # band index of the LAST newly-nonzero coef
            for j, t in enumerate(absv):
                if t == 1:
                    eobpos = j
            r = 0
            br: list = []
            for j, t in enumerate(absv):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and j <= eobpos:
                    flush_eob(role)
                    sym("ac", role, 0xF0)
                    r -= 16
                    for bv in br:
                        bit(bv, 1)
                    br = []
                if t > 1:
                    br.append(t & 1)
                    continue
                flush_eob(role)
                sym("ac", role, (r << 4) | 1)
                bit(1 if int(blk[ss + j]) > 0 else 0, 1)
                for bv in br:
                    bit(bv, 1)
                br = []
                r = 0
            if r > 0 or br:
                st["eobrun"] += 1
                st["br"].extend(br)
                if st["eobrun"] == 0x7FFF or len(st["br"]) > 900:
                    flush_eob(role)

        units = scan_units(comps_in_scan)
        role0 = 0 if comps_in_scan[0] == 0 else 1
        for n, unit in enumerate(units):
            if restart_interval and n and n % restart_interval == 0:
                flush_eob(role0)
                preds = {ci: 0 for ci in comps_in_scan}
                sym("rst", None, n // restart_interval - 1)
            for ci, blk in unit:
                if ss == 0 and ah == 0:
                    dc_first(ci, blk)
                elif ss == 0:
                    dc_refine(blk)
                elif ah == 0:
                    ac_first(ci, blk)
                else:
                    ac_refine(ci, blk)
        flush_eob(role0)

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(bytes([0xFF, marker]))
        out.extend((len(payload) + 2).to_bytes(2, "big"))
        out.extend(payload)

    _emit_headers(out, seg, gray, quants, samp, h_img, w_img,
                  restart_interval, 0xC2)

    for scan in _prog_scan_script(gray):
        comps_in_scan, ss, se, ah, al = scan
        # pass 1: symbols actually used -> per-role fixed-length tables
        syms: dict = {("dc", 0): set(), ("dc", 1): set(),
                      ("ac", 0): set(), ("ac", 1): set()}

        def stats_sym(kind, role, s):
            if kind != "rst":
                syms[(kind, role)].add(s)

        run_scan(scan, stats_sym, lambda v, n: None)
        tabs = {}
        for (kind, role), ss_set in syms.items():
            if ss_set:
                bits16, vals, enc = _fixed_len_table(ss_set)
                tabs[(kind, role)] = enc
                tc = 0 if kind == "dc" else 1
                seg(0xC4, bytes([(tc << 4) | role]) + bytes(bits16) + bytes(vals))
        # SOS
        sos = bytearray([len(comps_in_scan)])
        for ci in comps_in_scan:
            role = 0 if ci == 0 else 1
            sos.extend([ci + 1, (role << 4) | role])
        sos.extend([ss, se, (ah << 4) | al])
        seg(0xDA, bytes(sos))
        # pass 2: entropy-coded data
        bw = _BitWriter()

        def write_sym(kind, role, s):
            if kind == "rst":
                bw.flush()
                out.extend(bw.out)
                bw.out = bytearray()
                out.extend(bytes([0xFF, 0xD0 + (s % 8)]))
                return
            ln, code = tabs[(kind, role)][s]
            bw.write(code, ln)

        run_scan(scan, write_sym, bw.write)
        bw.flush()
        out.extend(bw.out)

    out.extend(b"\xff\xd9")
    return bytes(out)
