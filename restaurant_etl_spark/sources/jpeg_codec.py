"""Baseline JPEG codec in pure stdlib + numpy — closes the last image
format the reference treats as first-class input (.jpg/.jpeg routing,
universal_extractor.py:16-24) without any imaging library.

Decoder: baseline sequential DCT (SOF0), general DQT/DHT parsing (so
real-world files with the Annex K tables decode too), byte-unstuffing and
restart markers, grayscale and YCbCr with sampling factors 1-2 (4:4:4,
4:2:2, 4:2:0; nearest-neighbor chroma upsampling), orthonormal 8×8 IDCT.
Huffman symbols decode through a 16-bit lookahead table (built once per
distinct DHT) indexed by the next 16 bits of the stream, and value bits
come off a bit accumulator n at a time. Only the entropy decode runs per
block: dequantized coefficient blocks are collected per component, inverse
transformed as one stacked matmul and scattered into the component planes
by a reshape. Progressive (SOF2) and arithmetic coding raise so callers
fall back to the stub rather than emit wrong pixels.

Encoder (test/fixture harness): 4:4:4 or grayscale, FDCT + configurable
quantization, canonical Huffman tables it DECLARES in its own DHT
segments (fixed-length canonical codes — valid JPEG, no dependence on
memorized spec tables). With an all-ones quant table a solid-color
grayscale image round-trips EXACTLY: a flat block has only its DC
coefficient, which quantizes losslessly — that exactness is what lets a
DuckDB oracle state decoded pixel values in closed form
(multimodal_jpeg_decode).

JPEG's FDCT normalization equals the orthonormal 2D DCT-II (flat block of
value v → DC = 8·(v−128)), so the transform pair here is a single 8×8
basis matrix and its transpose.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

#: zigzag order: zigzag_index -> (row, col) flattened natural index
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)
_ZIGZAG_LIST = ZIGZAG.tolist()

#: orthonormal 8x8 DCT-II basis: T[u, x] = c(u) cos((2x+1)uπ/16)
_T = np.zeros((8, 8))
for _u in range(8):
    _c = np.sqrt(1 / 8) if _u == 0 else np.sqrt(2 / 8)
    for _x in range(8):
        _T[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _fdct2(block: np.ndarray) -> np.ndarray:
    return _T @ block @ _T.T


# ------------------------------------------------------------- decoder ----


class _BitReader:
    """MSB-first entropy-segment reader with 0xFF00 unstuffing. At a marker
    (RSTn or end of scan) it pads with 1-bits and does not consume the
    marker; ``sync_restart`` steps over a pending RSTn."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0  # the low ``nbits`` bits are unread
        self.nbits = 0

    def _fill(self, need: int) -> None:
        d = self.data
        acc, nbits, pos = self.acc, self.nbits, self.pos
        while nbits < need:
            if pos >= len(d):
                # pad with 1s (spec: marker-truncated streams pad)
                b = 0xFF
            else:
                b = d[pos]
                if b == 0xFF:
                    nxt = d[pos + 1] if pos + 1 < len(d) else 0xD9
                    if nxt == 0x00:
                        pos += 2
                    else:  # RSTn or end-of-scan marker: don't consume, pad
                        b = 0xFF
                else:
                    pos += 1
            acc = (acc << 8) | b
            nbits += 8
        self.acc, self.nbits, self.pos = acc & ((1 << nbits) - 1), nbits, pos

    def peek16(self) -> int:
        if self.nbits < 16:
            self._fill(32)
        return self.acc >> (self.nbits - 16) & 0xFFFF

    def read_bits(self, n: int) -> int:
        if self.nbits < n:
            self._fill(max(n, 32))
        self.nbits -= n
        return self.acc >> self.nbits & ((1 << n) - 1)

    def sync_restart(self) -> None:
        """Consume the pending RSTn marker and byte-align."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected restart marker")


@functools.lru_cache(maxsize=64)
def _lookahead(bits: bytes, symbols: bytes) -> tuple[int, ...]:
    """Canonical Huffman codes from a DHT (BITS + symbol list) as a table
    indexed by the next 16 stream bits: entry = (code length << 8) | symbol,
    0 where no code is a prefix of those bits. Codes past 2^length (an
    over-full BITS list) can never be read, so they get no entries."""
    table = [0] * (1 << 16)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            entry = (length << 8) | symbols[k]
            if code < (1 << length):
                span = 1 << (16 - length)
                table[code * span : (code + 1) * span] = [entry] * span
            code += 1
            k += 1
        code <<= 1
    return tuple(table)


class _Huff:
    """Canonical Huffman table from a DHT, decoded by 16-bit lookahead."""

    def __init__(self, bits: list[int], symbols: bytes) -> None:
        self.table = _lookahead(bytes(bits), bytes(symbols))

    def decode(self, br: _BitReader) -> int:
        entry = self.table[br.peek16()]
        if not entry:
            raise ValueError("invalid Huffman code in entropy stream")
        br.nbits -= entry >> 8
        return entry & 0xFF


def _extend(v: int, t: int) -> int:
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(content: bytes) -> np.ndarray:
    """Baseline JPEG → uint8 pixels: HxW for grayscale, HxWx3 RGB for
    YCbCr. Raises on progressive/arithmetic/12-bit variants."""
    if content[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huff] = {}
    huff_ac: dict[int, _Huff] = {}
    frame = None
    restart_interval = 0
    pos = 2
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = content[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", content, pos + 2)
        seg = content[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = np.frombuffer(seg, np.uint8, 64, i + 1)
                qt[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                table = _Huff(bits, seg[i + 17 : i + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = table
                i += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec, h, w, ncomp = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("progressive/extended JPEG unsupported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan_sel = {}
            for c in range(ns):
                cid, tables = seg[1 + 2 * c], seg[2 + 2 * c]
                scan_sel[cid] = (tables >> 4, tables & 0xF)
            return _decode_scan(
                content, pos + 2 + seglen, frame, scan_sel, qt,
                huff_dc, huff_ac, restart_interval,
            )
        # APPn / COM / others: skip
        pos += 2 + seglen
    raise ValueError("no scan data in JPEG")


def _decode_scan(data, pos, frame, scan_sel, qt, huff_dc, huff_ac, restart_interval):
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    if len(comps) == 1:
        # spec B.2.3: a single-component scan is NON-interleaved — one 8×8
        # block per MCU regardless of the component's declared sampling
        # factors (grayscale files converted from 4:2:0 color commonly
        # keep 2×2 factors on their lone component)
        comps = [{**comps[0], "h": 1, "v": 1}]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # per component: natural-order coefficients of every block, in decode
    # order (MCU raster, then the component's v×h blocks inside each MCU)
    coefs = [
        np.zeros((mcuy * mcux * c["v"] * c["h"], 64), dtype=np.float64) for c in comps
    ]
    tables = [(huff_dc[scan_sel[c["id"]][0]], huff_ac[scan_sel[c["id"]][1]]) for c in comps]
    br = _BitReader(data, pos)
    read_bits = br.read_bits
    pred = [0] * len(comps)
    for n_mcu in range(mcuy * mcux):
        if restart_interval and n_mcu and n_mcu % restart_interval == 0:
            br.sync_restart()
            pred = [0] * len(comps)
        for ci, c in enumerate(comps):
            dc_t, ac_t = tables[ci]
            per_mcu = c["v"] * c["h"]
            for blk in coefs[ci][n_mcu * per_mcu : (n_mcu + 1) * per_mcu]:
                t = dc_t.decode(br)
                pred[ci] += _extend(read_bits(t), t)
                blk[0] = pred[ci]
                k = 1
                while k < 64:
                    rs = ac_t.decode(br)
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += rs >> 4
                    if k > 63:
                        raise ValueError("AC index overflow")
                    size = rs & 0xF
                    blk[_ZIGZAG_LIST[k]] = _extend(read_bits(size), size)
                    k += 1
    planes = []
    for ci, c in enumerate(comps):
        blocks = coefs[ci].reshape(-1, 8, 8) * qt[c["tq"]]
        spatial = _T.T @ blocks @ _T + 128.0
        # (mcuy, mcux, v, h, 8, 8) blocks → (mcuy·v·8, mcux·h·8) plane
        planes.append(
            spatial.reshape(mcuy, mcux, c["v"], c["h"], 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(mcuy * c["v"] * 8, mcux * c["h"] * 8)
        )
    # upsample to full resolution and crop
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


# ------------------------------------------------------------- encoder ----


class _BitWriterMSB:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        for i in range(width - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def finish(self) -> bytes:
        if self.nbits:
            self.acc = (self.acc << (8 - self.nbits)) | ((1 << (8 - self.nbits)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
        return bytes(self.out)


def _flat_tables(nsym: int, length: int) -> tuple[list[int], list[int]]:
    """Canonical fixed-length Huffman spec: nsym codes all at ``length``
    bits (valid while nsym < 2^length, and canonical assignment keeps the
    all-ones code unused). Returns (BITS[16], symbols)."""
    assert nsym < (1 << length)
    bits = [0] * 16
    bits[length - 1] = nsym
    return bits, list(range(nsym))


def _category(v: int) -> int:
    return 0 if v == 0 else int(v).bit_length() if v > 0 else int(-v).bit_length()


def _enc_value(v: int, t: int) -> int:
    return v if v >= 0 else v + (1 << t) - 1


def encode_jpeg(px: np.ndarray, quant: int | np.ndarray = 1) -> bytes:
    """uint8 pixels (HxW grayscale or HxWx3 RGB, encoded 4:4:4) → baseline
    JPEG. ``quant`` is a scalar or an 8×8 table applied to every
    component; quant=1 makes flat (solid-color) grayscale blocks exactly
    lossless, the property the decode oracle relies on."""
    q = (np.full((8, 8), quant) if np.isscalar(quant) else np.asarray(quant)).astype(
        np.int32
    )
    if px.ndim == 2:
        planes = [px.astype(np.float64) - 128.0]
    else:
        r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
    h, w = px.shape[:2]

    # DC: 12 categories at 5 bits; AC: 255 run/size symbols at 9 bits
    dc_bits, dc_syms = _flat_tables(12, 5)
    ac_bits, ac_syms = _flat_tables(255, 9)
    dc_code = {s: (s, 5) for s in dc_syms}
    ac_code = {s: (s, 9) for s in ac_syms}

    bw = _BitWriterMSB()
    pred = [0] * len(planes)
    blocks_y = (h + 7) // 8
    blocks_x = (w + 7) // 8
    for by in range(blocks_y):
        for bx in range(blocks_x):
            for ci, plane in enumerate(planes):
                blk = np.zeros((8, 8))
                tile = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                blk[: tile.shape[0], : tile.shape[1]] = tile
                # edge replicate so partial blocks stay flat for flat input
                if tile.shape[0] < 8:
                    blk[tile.shape[0] :, :] = blk[tile.shape[0] - 1, :]
                if tile.shape[1] < 8:
                    blk[:, tile.shape[1] :] = blk[:, tile.shape[1] - 1 : tile.shape[1]]
                coeffs = np.round(_fdct2(blk) / q).astype(np.int64)
                zz = coeffs.reshape(-1)[ZIGZAG]
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                t = _category(diff)
                code, width = dc_code[t]
                bw.write(code, width)
                if t:
                    bw.write(_enc_value(diff, t), t)
                run = 0
                last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if k > last_nz:
                        code, width = ac_code[0x00]  # EOB
                        bw.write(code, width)
                        break
                    if v == 0:
                        run += 1
                        if run == 16:
                            code, width = ac_code[0xF0]  # ZRL
                            bw.write(code, width)
                            run = 0
                        continue
                    t = _category(v)
                    code, width = ac_code[(run << 4) | t]
                    bw.write(code, width)
                    bw.write(_enc_value(v, t), t)
                    run = 0

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body)

    zz_q = np.zeros(64, dtype=np.uint8)
    zz_q[np.arange(64)] = q.reshape(-1)[ZIGZAG]
    seg(0xDB, bytes([0x00]) + zz_q.tobytes())
    ncomp = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0])  # 4:4:4, quant table 0
    seg(0xC0, sof)
    seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_syms))
    seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_syms))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)
    out += bw.finish()
    out += b"\xff\xd9"
    return bytes(out)
