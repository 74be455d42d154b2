"""JPEG (ITU-T T.81) encode/decode in pure numpy — the last image format
of the multimodal suite that previously needed an external codec library.

Scope (declared): DCT modes SOF0 (baseline sequential) and SOF2
(progressive: spectral selection AND successive approximation, the shape
virtually every JPEG on the public web uses), 8-bit, 4:4:4 / 4:2:2 /
4:2:0 chroma subsampling (any integer h×v factors dividing the max),
DRI restart markers (sequence-checked, DC/EOB-run state reset,
byte-realignment — in both modes), no arithmetic coding / lossless /
hierarchical modes. Anything outside the envelope raises ``DecodeError``
loudly (round-3 verdict next-round #8 closed the progressive +
subsampling gap — real corpora are mostly progressive).

Why arithmetic coding stays declared rather than implemented: the QM
coder is driven by T.81 Annex D's Qe probability-state transition table
— arbitrary published CONSTANTS that cannot be derived from first
principles and cannot be byte-verified in this offline sandbox (same
evidence class as the W3C suite bytes). A from-memory reconstruction
would silently mis-decode; a loud typed error is strictly better. The
structural seams that COULD be closed offline were (progressive, DRI,
subsampling here; Ogg-FLAC and VP8L WebP in their modules).

Design notes:

* The 2-D DCT/IDCT are exact orthonormal matrix products (``C @ B @ C.T``)
  — no approximation beyond float64 rounding.
* Huffman tables are built **per image** from the actual symbol
  distribution as fixed-length canonical codes (every used symbol gets
  the same code length L with 2^L ≥ n_symbols + 1, keeping the all-ones
  code unused as the spec reserves). That is a valid DHT any conforming
  decoder accepts, and it spares this module from embedding the long
  Annex-K Huffman value lists; the *decoder* implements the general
  canonical BITS/HUFFVAL machinery, so it reads standard-table streams
  too. Quantization tables are the Annex-K luminance/chrominance
  defaults scaled by ``quality``.
* The progressive encoder emits the classic 4-phase scan script
  (interleaved DC first at Al=1 → DC refine → per-component AC first at
  Al=1 → AC refine), so the decoder's EOB-run and correction-bit paths
  are exercised end-to-end. Entropy coding is lossless over the same
  quantized coefficients, so a progressive and a baseline encode of one
  image must decode to BYTE-IDENTICAL pixels — the test suite uses that
  cross-check to keep a matched encoder/decoder bug from hiding.
"""

from __future__ import annotations

import numpy as np

from .multimodal import DecodeError

# Annex K.1/K.2 default quantization tables (row-major).
QUANT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.int32)
QUANT_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99]], dtype=np.int32)

_ZZ = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * \
            (np.sqrt(0.125) if _k == 0 else 0.5)


def _dct2(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


def _idct2(coef: np.ndarray) -> np.ndarray:
    return _C.T @ coef @ _C


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r, g, b = img[..., 0].astype(np.float64), \
        img[..., 1].astype(np.float64), img[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0,
                   255).astype(np.uint8)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category + raw bits for a signed coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    bits = v if v > 0 else (v + (1 << s) - 1)
    return s, bits


def _extend(bits: int, s: int) -> int:
    """Inverse of :func:`_magnitude` (spec EXTEND)."""
    if s == 0:
        return 0
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, bits: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((bits >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def read(self, length: int) -> int:
        while self.n < length:
            if self.pos >= len(self.data):
                raise DecodeError("JPEG entropy stream exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise DecodeError("unexpected marker in entropy data")
                self.pos += 1  # skip stuffed 0x00
            self.acc = (self.acc << 8) | b
            self.n += 8
        self.n -= length
        out = (self.acc >> self.n) & ((1 << length) - 1)
        self.acc &= (1 << self.n) - 1
        return out

    def align_restart(self, expect_seq: int) -> None:
        """Consume a restart marker: discard pad bits (≤7 buffered 1s),
        tolerate a stuffed all-ones pad byte / FF fill, then require
        RST(expect_seq & 7) — T.81 §B.2.5/E.2.4."""
        self.acc = 0
        self.n = 0
        d = self.data
        while d[self.pos:self.pos + 2] == b"\xff\x00":
            self.pos += 2                   # stuffed 0xFF pad byte
        while d[self.pos:self.pos + 2] == b"\xff\xff":
            self.pos += 1                   # fill byte
        if not (d[self.pos:self.pos + 1] == b"\xff"
                and self.pos + 1 < len(d)
                and 0xD0 <= d[self.pos + 1] <= 0xD7):
            raise DecodeError(
                f"expected restart marker at entropy offset {self.pos}")
        got = d[self.pos + 1] & 7
        if got != (expect_seq & 7):
            raise DecodeError(
                f"restart marker out of sequence (RST{got}, "
                f"expected RST{expect_seq & 7})")
        self.pos += 2


def _fixed_length_huffman(symbols: list[int]):
    """Canonical Huffman table with every used symbol at one length L,
    2^L ≥ n+1 (the all-ones code stays unused, as reserved by T.81).
    Returns (bits[17], huffval, {symbol: (code, L)})."""
    syms = sorted(set(symbols)) or [0]
    L = max(1, (len(syms) + 1 - 1).bit_length())
    while (1 << L) < len(syms) + 1:
        L += 1
    bits = [0] * 17
    bits[L] = len(syms)
    codes = {s: (i, L) for i, s in enumerate(syms)}
    return bits, syms, codes


def _block_symbols(zz: np.ndarray, prev_dc: int):
    """One quantized zigzag block → (dc_symbol, dc_bits_pair,
    ac_symbol_list, new_dc). AC symbols are (run<<4)|size with ZRL/EOB."""
    diff = int(zz[0]) - prev_dc
    s, bits = _magnitude(diff)
    ac = []
    run = 0
    last_nz = 0
    for i in range(1, 64):
        if zz[i] != 0:
            last_nz = i
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ac.append((0xF0, 0, 0))  # ZRL
            run -= 16
        sz, vb = _magnitude(v)
        ac.append(((run << 4) | sz, vb, sz))
        run = 0
    if last_nz < 63:
        ac.append((0x00, 0, 0))  # EOB
    return (s, bits), ac, int(zz[0])


_SAMPLING = {"444": ((1, 1), (1, 1), (1, 1)),
             "422": ((2, 1), (1, 1), (1, 1)),
             "420": ((2, 2), (1, 1), (1, 1))}


def _quant_tables(quality: int):
    q = max(1, min(100, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return [np.clip((QUANT_LUMA * scale + 50) // 100, 1, 255),
            np.clip((QUANT_CHROMA * scale + 50) // 100, 1, 255)]


def _pad_edge(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    h, w = plane.shape
    out = np.empty((ph, pw))
    out[:h, :w] = plane
    if ph > h:
        out[h:, :w] = plane[h - 1:h, :]
    if pw > w:
        out[:, w:] = out[:, w - 1:w]
    return out


def _quantized_components(img: np.ndarray, quality: int, sampling: str):
    """RGB image → per-component quantized zigzag coefficient grids.

    Returns ``(comps, qt, mcux, mcuy)`` where comps is a list of dicts
    with keys ``hi, vi, tq, coef`` (coef: (bh, bw, 64) int64, MCU-padded
    block grid) plus the component's true block dims ``nbw, nbh``.
    """
    h, w, _ = img.shape
    factors = _SAMPLING[sampling]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    qt = _quant_tables(quality)
    ycc = _rgb_to_ycbcr(img)
    comps = []
    for c, (hi, vi) in enumerate(factors):
        fy, fx = vmax // vi, hmax // hi
        cw, ch = -(-w * hi // hmax), -(-h * vi // vmax)
        plane = ycc[..., c]
        if fy > 1 or fx > 1:
            # box-average downsample after edge padding to a multiple
            p = _pad_edge(plane, ch * fy, cw * fx)
            plane = p.reshape(ch, fy, cw, fx).mean(axis=(1, 3))
        bw_, bh_ = mcux * hi, mcuy * vi            # MCU-padded block grid
        p = _pad_edge(plane, bh_ * 8, bw_ * 8)
        tq = 0 if c == 0 else 1
        qzz = qt[tq].flatten()[_ZZ]
        coef = np.empty((bh_, bw_, 64), dtype=np.int64)
        for by in range(bh_):
            for bx in range(bw_):
                blk = p[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                coef[by, bx] = np.round(
                    _dct2(blk).flatten()[_ZZ] / qzz).astype(np.int64)
        comps.append({"hi": hi, "vi": vi, "tq": tq, "coef": coef,
                      "nbw": -(-cw // 8), "nbh": -(-ch // 8)})
    return comps, qt, mcux, mcuy


def _mcu_groups(comps, mcux, mcuy):
    """Yield one [(comp_index, by, bx), ...] list per interleaved MCU."""
    for my in range(mcuy):
        for mx in range(mcux):
            grp = []
            for ci, c in enumerate(comps):
                for v in range(c["vi"]):
                    for hh in range(c["hi"]):
                        grp.append((ci, my * c["vi"] + v,
                                    mx * c["hi"] + hh))
            yield grp


class _OpStream:
    """Two-pass emission: ops collected as ("sym", tsel, symbol) /
    ("bits", value, length); per-table canonical codes are built from the
    collected symbol population, then everything is written."""

    def __init__(self):
        self.ops: list = []

    def sym(self, tsel, s):
        self.ops.append(("sym", tsel, s))

    def bits(self, v, n):
        if n:
            self.ops.append(("bits", v, n))

    def rst(self, seq):
        self.ops.append(("rst", seq & 7, 0))

    def tables(self):
        pop: dict = {}
        for op in self.ops:
            if op[0] == "sym":
                pop.setdefault(op[1], []).append(op[2])
        return {t: _fixed_length_huffman(syms) for t, syms in pop.items()}

    def emit(self, bw: "_BitWriter", tables):
        for op in self.ops:
            if op[0] == "sym":
                code, ln = tables[op[1]][2][op[2]]
                bw.write(code, ln)
            elif op[0] == "rst":
                bw.flush()                 # byte-align (1-padded, stuffed)
                bw.out += bytes([0xFF, 0xD0 + op[1]])
            else:
                bw.write(op[1], op[2])


def _pt_ac(v: int, al: int) -> int:
    """AC point transform: divide by 2^al truncating TOWARD ZERO
    (T.81 G.1.2.2 — arithmetic shift would floor negatives)."""
    return (abs(int(v)) >> al) * (1 if v >= 0 else -1)


def _emit_dc_first(ops, comps, mcux, mcuy, al, ri: int = 0):
    prev = [0] * len(comps)
    for mcu_i, grp in enumerate(_mcu_groups(comps, mcux, mcuy)):
        if ri and mcu_i and mcu_i % ri == 0:
            ops.rst(mcu_i // ri - 1)
            prev = [0] * len(comps)
        for ci, by, bx in grp:
            dc = int(comps[ci]["coef"][by, bx, 0]) >> al  # arith shift
            s, bits = _magnitude(dc - prev[ci])
            prev[ci] = dc
            ops.sym(("dc", comps[ci]["tq"]), s)
            ops.bits(bits, s)


def _emit_dc_refine(ops, comps, mcux, mcuy, al, ri: int = 0):
    for mcu_i, grp in enumerate(_mcu_groups(comps, mcux, mcuy)):
        if ri and mcu_i and mcu_i % ri == 0:
            ops.rst(mcu_i // ri - 1)
        for ci, by, bx in grp:
            ops.bits((int(comps[ci]["coef"][by, bx, 0]) >> al) & 1, 1)


def _emit_ac_first(ops, comp, tsel, ss, se, al, ri: int = 0):
    eobrun = 0
    mcu_i = -1

    def flush_eob():
        nonlocal eobrun
        if eobrun > 0:
            g = eobrun.bit_length() - 1
            ops.sym(tsel, g << 4)
            ops.bits(eobrun - (1 << g), g)
            eobrun = 0

    for by in range(comp["nbh"]):
        for bx in range(comp["nbw"]):
            mcu_i += 1
            if ri and mcu_i and mcu_i % ri == 0:
                flush_eob()
                ops.rst(mcu_i // ri - 1)
            band = [_pt_ac(comp["coef"][by, bx, k], al)
                    for k in range(ss, se + 1)]
            if not any(band):
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            run = 0
            last_nz = max(i for i, v in enumerate(band) if v)
            for i in range(last_nz + 1):
                v = band[i]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ops.sym(tsel, 0xF0)
                    run -= 16
                s, bits = _magnitude(v)
                ops.sym(tsel, (run << 4) | s)
                ops.bits(bits, s)
                run = 0
            if last_nz < se - ss:
                eobrun += 1
    flush_eob()


def _emit_ac_refine(ops, comp, tsel, ss, se, al, ri: int = 0):
    eobrun = 0
    pending: list[int] = []
    mcu_i = -1

    def flush_eob():
        nonlocal eobrun, pending
        if eobrun > 0:
            g = eobrun.bit_length() - 1
            ops.sym(tsel, g << 4)
            ops.bits(eobrun - (1 << g), g)
            eobrun = 0
            for b in pending:
                ops.bits(b, 1)
            pending = []

    for by in range(comp["nbh"]):
        for bx in range(comp["nbw"]):
            mcu_i += 1
            if ri and mcu_i and mcu_i % ri == 0:
                flush_eob()
                ops.rst(mcu_i // ri - 1)
            vals = [int(comp["coef"][by, bx, k]) for k in range(ss, se + 1)]
            t = [abs(v) >> al for v in vals]
            hist = [(abs(v) >> (al + 1)) != 0 for v in vals]
            # position AFTER which everything folds into the EOB run
            keob = -1
            for i, (tv, hv) in enumerate(zip(t, hist)):
                if tv and not hv:
                    keob = i
            if keob < 0:
                # no newly-nonzero coefficient: whole block joins the EOB
                # run; its history-correction bits ride along in order
                eobrun += 1
                pending.extend(tv & 1 for tv, hv in zip(t, hist) if hv)
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            run = 0
            local: list[int] = []
            for i, (tv, hv, v) in enumerate(zip(t, hist, vals)):
                if tv == 0 and not hv:
                    run += 1
                    continue
                # T.81 G.7: ZRLs are emitted as soon as the zero-history
                # run exceeds 15 at ANY nonzero position — so correction
                # bits land with the ZRL whose 16-slot window covers
                # them — but never past the last newly-nonzero position
                # (those fold into the EOB run instead)
                while run > 15 and i <= keob:
                    ops.sym(tsel, 0xF0)
                    for b in local:
                        ops.bits(b, 1)
                    local = []
                    run -= 16
                if hv:
                    local.append(tv & 1)
                    continue
                ops.sym(tsel, (run << 4) | 1)
                ops.bits(1 if v > 0 else 0, 1)
                for b in local:
                    ops.bits(b, 1)
                local = []
                run = 0
            if run > 0 or local:
                eobrun += 1
                pending.extend(local)
    flush_eob()


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _headers(h, w, qt, comps, sof_marker: int,
             restart_interval: int = 0) -> bytearray:
    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tid in (0, 1):
        out += _seg(0xDB, bytes([tid])
                    + bytes(int(x) for x in qt[tid].flatten()[_ZZ]))
    body = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([len(comps)])
    for ci, c in enumerate(comps):
        body += bytes([ci + 1, (c["hi"] << 4) | c["vi"], c["tq"]])
    out += _seg(sof_marker, body)
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    return out


def _dht_segs(tables) -> bytes:
    out = b""
    for (kind, t), (bits, vals, _) in sorted(tables.items()):
        tc = 0 if kind == "dc" else 1
        out += _seg(0xC4, bytes([(tc << 4) | t]) + bytes(bits[1:17])
                    + bytes(vals))
    return out


def _sos_seg(comp_specs, ss, se, ah, al) -> bytes:
    body = bytes([len(comp_specs)])
    for cid, td, ta in comp_specs:
        body += bytes([cid, (td << 4) | ta])
    body += bytes([ss, se, (ah << 4) | al])
    return _seg(0xDA, body)


def encode_jpeg(img: np.ndarray, *, quality: int = 90,
                sampling: str = "444",
                restart_interval: int = 0) -> bytes:
    """HxWx3 uint8 → baseline (SOF0) JFIF payload with 4:4:4 / 4:2:2 /
    4:2:0 chroma sampling, optional DRI restart markers, and per-image
    canonical Huffman tables. Pure numpy; decodable by any baseline
    decoder."""
    h, w, _ = img.shape
    ri = restart_interval
    comps, qt, mcux, mcuy = _quantized_components(img, quality, sampling)
    ops = _OpStream()
    prev = [0] * len(comps)
    for mcu_i, grp in enumerate(_mcu_groups(comps, mcux, mcuy)):
        if ri and mcu_i and mcu_i % ri == 0:
            ops.rst(mcu_i // ri - 1)
            prev = [0] * len(comps)
        for ci, by, bx in grp:
            tq = comps[ci]["tq"]
            (s, bits), ac, prev[ci] = _block_symbols(
                comps[ci]["coef"][by, bx], prev[ci])
            ops.sym(("dc", tq), s)
            ops.bits(bits, s)
            for sym, vb, sz in ac:
                ops.sym(("ac", tq), sym)
                ops.bits(vb, sz)
    tables = ops.tables()
    bw = _BitWriter()
    ops.emit(bw, tables)
    bw.flush()

    out = _headers(h, w, qt, comps, 0xC0, ri)
    out += _dht_segs(tables)
    out += _sos_seg([(ci + 1, c["tq"], c["tq"])
                     for ci, c in enumerate(comps)], 0, 63, 0, 0)
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive(img: np.ndarray, *, quality: int = 90,
                            sampling: str = "444",
                            restart_interval: int = 0) -> bytes:
    """HxWx3 uint8 → progressive (SOF2) JFIF payload with the classic
    4-phase scan script: interleaved DC first (Al=1) → DC refine →
    per-component AC first (1..63, Al=1) → per-component AC refine
    (Ah=1, Al=0). Exercises spectral selection, successive approximation,
    EOB runs and correction bits — the decode paths real web corpora
    need. Same quantized coefficients as :func:`encode_jpeg`, so both
    encodings decode to byte-identical pixels."""
    h, w, _ = img.shape
    ri = restart_interval
    comps, qt, mcux, mcuy = _quantized_components(img, quality, sampling)
    out = _headers(h, w, qt, comps, 0xC2, ri)

    def scan(emit_fn, specs, ss, se, ah, al, *, needs_table=True):
        nonlocal out
        ops = _OpStream()
        emit_fn(ops)
        tables = ops.tables() if needs_table else {}
        bw = _BitWriter()
        ops.emit(bw, tables)
        bw.flush()
        out += _dht_segs(tables)
        out += _sos_seg(specs, ss, se, ah, al)
        out += bw.out

    all_specs = [(ci + 1, c["tq"], 0) for ci, c in enumerate(comps)]
    scan(lambda o: _emit_dc_first(o, comps, mcux, mcuy, 1, ri),
         all_specs, 0, 0, 0, 1)
    scan(lambda o: _emit_dc_refine(o, comps, mcux, mcuy, 0, ri),
         all_specs, 0, 0, 1, 0, needs_table=False)
    for ci, c in enumerate(comps):
        scan(lambda o, c=c: _emit_ac_first(
            o, c, ("ac", c["tq"]), 1, 63, 1, ri),
             [(ci + 1, 0, c["tq"])], 1, 63, 0, 1)
    for ci, c in enumerate(comps):
        scan(lambda o, c=c: _emit_ac_refine(
            o, c, ("ac", c["tq"]), 1, 63, 0, ri),
             [(ci + 1, 0, c["tq"])], 1, 63, 1, 0)
    out += b"\xff\xd9"
    return bytes(out)


def _build_decode_table(bits: list[int], vals: list[int]):
    """Canonical BITS/HUFFVAL → {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln]):
            table[(ln, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _huff_decode(br: _BitReader, table: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.read(1)
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise DecodeError("invalid Huffman code in JPEG stream")


def _entropy_end(payload: bytes, start: int) -> int:
    """Position of the first real marker after ``start`` (FF00 stuffing
    and RST markers are entropy data; FF fill bytes skipped)."""
    pos, n = start, len(payload)
    while True:
        idx = payload.find(b"\xff", pos)
        if idx < 0 or idx + 1 >= n:
            raise DecodeError("JPEG entropy stream unterminated")
        nxt = payload[idx + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            pos = idx + 2
        elif nxt == 0xFF:
            pos = idx + 1
        else:
            return idx


def _parse_jpeg(payload: bytes):
    """Segment walk → (sof dict, qt, scans). Each scan carries its header
    fields, a SNAPSHOT of the Huffman tables in force, and its entropy
    bytes (tables may be redefined between progressive scans)."""
    if payload[:2] != b"\xff\xd8":
        raise DecodeError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    progressive = False
    restart_interval = 0
    scans = []
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise DecodeError(f"bad marker alignment at {pos}")
        marker = payload[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker == 0xD9:
            break
        if pos + 4 > len(payload):
            raise DecodeError("truncated JPEG segment header")
        ln = int.from_bytes(payload[pos + 2:pos + 4], "big")
        body = payload[pos + 4:pos + 2 + ln]
        if len(body) != ln - 2:
            raise DecodeError("truncated JPEG segment")
        if marker == 0xDB:
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 0x0F
                if prec != 0:
                    raise DecodeError("16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[_ZZ] = np.frombuffer(body, np.uint8, 64, b + 1)
                qt[tid] = tbl.reshape(8, 8)
                b += 65
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = [0] + list(body[b + 1:b + 17])
                n = sum(bits)
                vals = list(body[b + 17:b + 17 + n])
                huff[(tc, th)] = _build_decode_table(bits, vals)
                b += 17 + n
        elif marker in (0xC0, 0xC2):
            if sof is not None:
                raise DecodeError("multiple SOF segments")
            progressive = marker == 0xC2
            sof = body
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise DecodeError(
                f"unsupported JPEG mode (SOF{marker - 0xC0}; this decoder "
                "handles SOF0 baseline and SOF2 progressive)")
        elif marker == 0xDD:
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:
            ncomp = body[0]
            specs = [(body[1 + 2 * i], body[2 + 2 * i] >> 4,
                      body[2 + 2 * i] & 0x0F) for i in range(ncomp)]
            ss, se, a = body[1 + 2 * ncomp:4 + 2 * ncomp]
            if not (ss <= se <= 63) or (a >> 4) > 13 or (a & 0x0F) > 13:
                raise DecodeError(
                    f"bad scan header Ss={ss} Se={se} A={a:02x}")
            data_start = pos + 2 + ln
            end = _entropy_end(payload, data_start)
            scans.append({"specs": specs, "ss": ss, "se": se,
                          "ah": a >> 4, "al": a & 0x0F,
                          "huff": dict(huff), "ri": restart_interval,
                          "data": payload[data_start:end]})
            pos = end
            continue
        pos += 2 + ln
    if sof is None or not scans:
        raise DecodeError("missing SOF/SOS")
    if sof[0] != 8:
        raise DecodeError("only 8-bit precision supported")
    ncomp = sof[5]
    if ncomp not in (1, 3):
        raise DecodeError(f"unsupported component count {ncomp}")
    h = int.from_bytes(sof[1:3], "big")
    w = int.from_bytes(sof[3:5], "big")
    if h <= 0 or w <= 0:
        raise DecodeError("bad JPEG geometry")
    from .multimodal import MAX_PIXELS
    if h * w > MAX_PIXELS:
        raise DecodeError(
            f"JPEG raster {w}x{h} exceeds {MAX_PIXELS} px cap")
    comps = []
    for i in range(ncomp):
        cid, samp, tq = sof[6 + 3 * i:9 + 3 * i]
        comps.append({"cid": cid, "hi": samp >> 4, "vi": samp & 0x0F,
                      "tq": tq})
    hmax = max(c["hi"] for c in comps)
    vmax = max(c["vi"] for c in comps)
    for c in comps:
        if c["hi"] < 1 or c["vi"] < 1 or hmax % c["hi"] or vmax % c["vi"]:
            raise DecodeError(
                f"unsupported sampling factors {c['hi']}x{c['vi']}")
    return {"h": h, "w": w, "comps": comps, "hmax": hmax, "vmax": vmax,
            "progressive": progressive}, qt, scans


def _decode_scan(scan, info, coef, baseline):
    """Decode one scan's entropy data into the coefficient store."""
    comps = info["comps"]
    by_cid = {c["cid"]: (ci, c) for ci, c in enumerate(comps)}
    in_scan = []
    for cid, td, ta in scan["specs"]:
        if cid not in by_cid:
            raise DecodeError(f"scan references unknown component {cid}")
        in_scan.append((*by_cid[cid], td, ta))
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    if baseline and (ss, se, ah, al) != (0, 63, 0, 0):
        raise DecodeError("baseline scan with progressive parameters")
    br = _BitReader(scan["data"])
    huff = scan["huff"]
    mcux = -(-info["w"] // (8 * info["hmax"]))
    mcuy = -(-info["h"] // (8 * info["vmax"]))

    def table(tc, th):
        t = huff.get((tc, th))
        if t is None:
            raise DecodeError(f"missing Huffman table ({tc},{th})")
        return t

    ri = scan.get("ri", 0)

    def scan_groups():
        """One list of (scan_index, by, bx) per MCU (non-interleaved
        scans: every block is its own MCU, T.81 §A.2.2)."""
        if len(in_scan) > 1:
            yield from _mcu_groups(
                [{"hi": c["hi"], "vi": c["vi"]} for _, c, _, _ in in_scan],
                mcux, mcuy)
        else:
            for item in _single_comp_order(in_scan[0][1], info):
                yield [item]

    if baseline:
        prev = [0] * len(in_scan)
        for mcu_i, grp in enumerate(scan_groups()):
            if ri and mcu_i and mcu_i % ri == 0:
                br.align_restart(mcu_i // ri - 1)
                prev = [0] * len(in_scan)
            for si, by, bx in grp:
                ci, c, td, ta = in_scan[si]
                blk = coef[ci][by, bx]
                s = _huff_decode(br, table(0, td))
                prev[si] += _extend(br.read(s), s) if s else 0
                blk[0] = prev[si]
                k = 1
                while k < 64:
                    sym = _huff_decode(br, table(1, ta))
                    if sym == 0x00:
                        break
                    run, sz = sym >> 4, sym & 0x0F
                    if sz == 0:
                        if run != 15:
                            raise DecodeError("bad AC symbol")
                        k += 16
                        continue
                    k += run
                    if k > 63:
                        raise DecodeError("AC run overflows block")
                    blk[k] = _extend(br.read(sz), sz)
                    k += 1
        return

    # --- progressive scans ---------------------------------------------
    if ss == 0:  # DC scan (se must be 0)
        if se != 0:
            raise DecodeError("progressive DC scan must have Se=0")
        if ah == 0:
            prev = [0] * len(in_scan)
            for mcu_i, grp in enumerate(scan_groups()):
                if ri and mcu_i and mcu_i % ri == 0:
                    br.align_restart(mcu_i // ri - 1)
                    prev = [0] * len(in_scan)
                for si, by, bx in grp:
                    ci, c, td, ta = in_scan[si]
                    s = _huff_decode(br, table(0, td))
                    prev[si] += _extend(br.read(s), s) if s else 0
                    coef[ci][by, bx, 0] = prev[si] << al
        else:
            p1 = 1 << al
            for mcu_i, grp in enumerate(scan_groups()):
                if ri and mcu_i and mcu_i % ri == 0:
                    br.align_restart(mcu_i // ri - 1)
                for si, by, bx in grp:
                    ci = in_scan[si][0]
                    if br.read(1):
                        coef[ci][by, bx, 0] |= p1
        return

    # AC scans are single-component, non-interleaved (T.81 G.1.1.1.1)
    if len(in_scan) != 1:
        raise DecodeError("progressive AC scan with multiple components")
    ci, c, td, ta = in_scan[0]
    ac = table(1, ta)
    p1 = 1 << al
    eobrun = 0
    if ah == 0:  # AC first
        for mcu_i, (_, by, bx) in enumerate(_single_comp_order(c, info)):
            if ri and mcu_i and mcu_i % ri == 0:
                br.align_restart(mcu_i // ri - 1)
                eobrun = 0
            blk = coef[ci][by, bx]
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                sym = _huff_decode(br, ac)
                run, sz = sym >> 4, sym & 0x0F
                if sz == 0:
                    if run != 15:
                        eobrun = (1 << run) - 1
                        if run:
                            eobrun += br.read(run)
                        break
                    k += 16
                    continue
                k += run
                if k > se:
                    raise DecodeError("AC run overflows band")
                blk[k] = _extend(br.read(sz), sz) << al
                k += 1
        return

    # AC refinement (T.81 G.1.2.3; correction-bit algorithm)
    def correct(blk, k):
        if br.read(1) and not (abs(int(blk[k])) & p1):
            blk[k] += p1 if blk[k] > 0 else -p1

    for mcu_i, (_, by, bx) in enumerate(_single_comp_order(c, info)):
        if ri and mcu_i and mcu_i % ri == 0:
            br.align_restart(mcu_i // ri - 1)
            eobrun = 0
        blk = coef[ci][by, bx]
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = _huff_decode(br, ac)
                run, sz = sym >> 4, sym & 0x0F
                newval = 0
                if sz == 0:
                    if run != 15:
                        eobrun = 1 << run
                        if run:
                            eobrun += br.read(run)
                        break
                else:
                    if sz != 1:
                        raise DecodeError("AC refine size != 1")
                    newval = p1 if br.read(1) else -p1
                while k <= se:
                    if blk[k] != 0:
                        correct(blk, k)
                    else:
                        if run == 0:
                            break
                        run -= 1
                    k += 1
                if newval and k <= se:
                    blk[k] = newval
                k += 1
        if eobrun > 0:
            while k <= se:
                if blk[k] != 0:
                    correct(blk, k)
                k += 1
            eobrun -= 1


def _single_comp_order(c, info):
    """Non-interleaved scan order: the component's OWN block raster
    (ceil(cw/8) × ceil(ch/8)) — NOT the MCU-padded grid."""
    cw = -(-info["w"] * c["hi"] // info["hmax"])
    ch = -(-info["h"] * c["vi"] // info["vmax"])
    for by in range(-(-ch // 8)):
        for bx in range(-(-cw // 8)):
            yield 0, by, bx


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JFIF → HxWx3 uint8. SOF0 baseline + SOF2 progressive (spectral
    selection and successive approximation), grayscale or YCbCr with any
    integer-ratio chroma subsampling (4:4:4/4:2:2/4:2:0/...); see module
    docstring for the declared envelope. Typed-error contract: any
    malformed stream raises ``DecodeError`` (fuzz-enforced) — structural
    slips on hostile bytes (short buffers, bad lengths) are wrapped here
    so the per-item isolation upstream never sees an untyped exception
    even when called directly, not just via decode_image's dispatch."""
    try:
        return _decode_jpeg_inner(payload)
    except DecodeError:
        raise
    except Exception as e:
        raise DecodeError(
            f"malformed JPEG: {type(e).__name__}: {e}") from e


def _decode_jpeg_inner(payload: bytes) -> np.ndarray:
    info, qt, scans = _parse_jpeg(payload)
    h, w = info["h"], info["w"]
    comps, hmax, vmax = info["comps"], info["hmax"], info["vmax"]
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    coef = [np.zeros((mcuy * c["vi"], mcux * c["hi"], 64), dtype=np.int64)
            for c in comps]
    for scan in scans:
        _decode_scan(scan, info, coef, baseline=not info["progressive"])

    planes = []
    for ci, c in enumerate(comps):
        if c["tq"] not in qt:
            raise DecodeError("missing quant table")
        qzz = qt[c["tq"]].flatten()[_ZZ].astype(np.float64)
        bh, bw_ = coef[ci].shape[:2]
        plane = np.empty((bh * 8, bw_ * 8))
        for by in range(bh):
            for bx in range(bw_):
                cf = np.zeros(64)
                cf[_ZZ] = coef[ci][by, bx] * qzz
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                    _idct2(cf.reshape(8, 8)) + 128.0
        cw = -(-w * c["hi"] // hmax)
        ch = -(-h * c["vi"] // vmax)
        fy, fx = vmax // c["vi"], hmax // c["hi"]
        plane = plane[:ch, :cw]
        if fy > 1 or fx > 1:
            plane = np.repeat(np.repeat(plane, fy, 0), fx, 1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        y = np.clip(planes[0].round(), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    return _ycbcr_to_rgb(np.stack(planes, axis=-1))
