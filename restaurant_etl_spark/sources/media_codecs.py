"""Pure-stdlib media codecs for the multimodal column operators: the
formats that need no external library are decoded for REAL — PNG
(non-interlaced 8-bit gray/palette/RGB/RGBA via stdlib ``zlib`` +
scanline unfiltering), baseline JPEG (full Huffman + IDCT pipeline,
sources/jpeg_codec.py), GIF (full LZW with code-width growth and
deferred clears, first frame), uncompressed 24-bit BMP, binary PPM/PGM
(P6/P5) images, PCM WAV audio (stdlib ``wave``), and MJPEG video in a
RIFF AVI container (every frame an independent baseline JPEG, so video
decode = RIFF traversal + the JPEG pipeline). Only genuinely
codec-library-bound formats (MP3 samples, H.264-in-MP4 frames) still
fall back to the deterministic stub in sources/multimodal.py.

PNG matters most here: the reference routes ``.png`` as a first-class
image input (universal_extractor.py:16-24), and its whole compression
stack — DEFLATE, CRC-32 — ships in the Python standard library, so the
decode is exact, not approximated.

Everything returns numpy arrays so the callers' Arrow-batched feature /
resize code is identical for real and stubbed inputs.
"""

from __future__ import annotations

import io
import struct
import zlib

import numpy as np


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def sniff(content: bytes) -> str | None:
    """Best-effort container detection for the stdlib-decodable formats.
    (content[2:3] is compared against a tuple — substring containment
    would accept the empty slice of a 2-byte payload as whitespace.)"""
    if content[:8] == PNG_SIGNATURE:
        return "png"
    if content[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if content[:2] == b"BM":
        return "bmp"
    if content[:2] in (b"P6", b"P5") and content[2:3] in (b" ", b"\t", b"\r", b"\n"):
        return "ppm"
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return "wav"
    if content[4:8] == b"ftyp":
        return "mp4"
    return None


def decode_bmp(content: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP → HxWx3 uint8 (RGB). Raises on anything
    fancier (compression, other depths) so callers fall back to the stub."""
    if content[:2] != b"BM":
        raise ValueError("not a BMP")
    data_offset = struct.unpack_from("<I", content, 10)[0]
    width, height = struct.unpack_from("<ii", content, 18)
    bpp = struct.unpack_from("<H", content, 28)[0]
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    top_down = height < 0
    height = abs(height)
    row_bytes = (width * 3 + 3) & ~3  # rows padded to 4 bytes
    px = np.frombuffer(
        content, dtype=np.uint8, count=row_bytes * height, offset=data_offset
    ).reshape(height, row_bytes)[:, : width * 3].reshape(height, width, 3)
    if not top_down:
        px = px[::-1]
    return px[:, :, ::-1].copy()  # BGR → RGB


def decode_ppm(content: bytes) -> np.ndarray:
    """Binary PPM (P6) → HxWx3, binary PGM (P5) → HxW, uint8."""
    magic = content[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM")
    # header tokens: magic, width, height, maxval — comments (#…) allowed
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        while i < len(content) and content[i : i + 1].isspace():
            i += 1
        if content[i : i + 1] == b"#":
            while i < len(content) and content[i : i + 1] not in b"\r\n":
                i += 1
            continue
        j = i
        while j < len(content) and not content[j : j + 1].isspace():
            j += 1
        tokens.append(int(content[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    width, height, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    ch = 3 if magic == b"P6" else 1
    px = np.frombuffer(content, dtype=np.uint8, count=width * height * ch, offset=i)
    return px.reshape((height, width, 3) if ch == 3 else (height, width)).copy()


def encode_ppm(px: np.ndarray) -> bytes:
    """HxWx3 → P6 bytes, HxW → P5 bytes (the inverse of decode_ppm) —
    thumbnails stay decodable, not truncated byte soup."""
    if px.ndim == 3:
        h, w, _ = px.shape
        magic = b"P6"
    else:
        h, w = px.shape
        magic = b"P5"
    return magic + f"\n{w} {h}\n255\n".encode() + px.astype(np.uint8).tobytes()


#: PNG color types → sample channels per pixel (8-bit depth only here).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline PNG filters (spec §9: None/Sub/Up/Average/
    Paeth). Each scanline is 1 filter-type byte + ``stride`` sample bytes.
    None, Sub (a per-channel running sum mod 256) and Up are whole-row
    array operations; Average and Paeth recur on the reconstructed previous
    pixel, so those rows run a per-byte loop over Python ints."""
    out = bytearray()
    prev = bytes(stride)
    pos = 0
    for _ in range(height):
        ftype = raw[pos]
        line = raw[pos + 1 : pos + 1 + stride]
        pos += 1 + stride
        if ftype == 0:  # None
            cur = line
        elif ftype == 1:  # Sub
            sums = np.frombuffer(line, dtype=np.uint8).reshape(-1, bpp).cumsum(axis=0)
            cur = (sums & 0xFF).astype(np.uint8).tobytes()
        elif ftype == 2:  # Up (uint8 addition wraps mod 256)
            cur = (np.frombuffer(line, np.uint8) + np.frombuffer(prev, np.uint8)).tobytes()
        elif ftype == 3:  # Average
            cur = bytearray(line)
            for i in range(min(bpp, stride)):
                cur[i] = (cur[i] + (prev[i] >> 1)) & 0xFF
            for i in range(bpp, stride):
                cur[i] = (cur[i] + ((cur[i - bpp] + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = bytearray(line)
            for i in range(min(bpp, stride)):  # a = c = 0: predictor is b
                cur[i] = (cur[i] + prev[i]) & 0xFF
            for i in range(bpp, stride):
                a, b, c = cur[i - bpp], prev[i], prev[i - bpp]
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out += cur
        prev = cur
    return np.frombuffer(out, dtype=np.uint8).reshape(height, stride)


def decode_png(content: bytes) -> np.ndarray:
    """PNG → uint8 pixel array: HxW (grayscale), HxWx2 (gray+alpha), HxWx3
    (RGB / expanded palette), HxWx4 (RGBA). REAL decode: chunk walk → IDAT
    concat → zlib inflate → scanline unfilter. Supports the baseline cases
    the spec makes stdlib-reachable — bit depth 8, no interlace; anything
    else (16-bit, Adam7, sub-byte palette) raises so callers fall back to
    the stub rather than emit wrong pixels."""
    if content[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    idat = bytearray()
    palette: bytes | None = None
    while pos + 8 <= len(content):
        (clen,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + clen]
        if len(data) < clen:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            palette = bytes(data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, interlace={interlace})"
        )
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    ch = _PNG_CHANNELS[color_type]
    stride = width * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    px = _png_unfilter(raw, height, stride, ch)
    if color_type == 3:  # palette → RGB expansion
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        lut = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        return lut[px.reshape(height, width)].copy()
    if ch == 1:
        return px.reshape(height, width).copy()
    return px.reshape(height, width, ch).copy()


def encode_png(px: np.ndarray, filter_type: int = 0) -> bytes:
    """uint8 pixels (HxW gray, HxWx3 RGB, HxWx4 RGBA) → PNG bytes, every
    scanline carrying ``filter_type`` — the test harness uses non-zero
    types to prove the decoder actually reverses Sub/Up/Average/Paeth
    rather than only handling unfiltered data."""
    px = np.ascontiguousarray(px.astype(np.uint8))
    if px.ndim == 2:
        color_type, ch = 0, 1
        h, w = px.shape
    else:
        h, w, ch = px.shape
        color_type = {1: 0, 3: 2, 4: 6}[ch]
    bpp = ch
    rows = bytearray()
    flat = px.reshape(h, w * ch).astype(np.int32)
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
            enc = (cur - left) & 0xFF
        elif filter_type == 2:
            enc = (cur - prev) & 0xFF
        elif filter_type == 3:
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
            enc = (cur - ((left + prev) >> 1)) & 0xFF
        elif filter_type == 4:
            enc = np.empty_like(cur)
            for i in range(w * ch):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (cur[i] - pred) & 0xFF
        else:
            raise ValueError(f"unknown filter type {filter_type}")
        rows.append(filter_type)
        rows += enc.astype(np.uint8).tobytes()
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(rows)))
        + chunk(b"IEND", b"")
    )


# ------------------------------------------------------------------ GIF ----


def _lzw_decode(data: bytes, min_code_size: int, expected: int) -> bytes:
    """GIF-variant LZW: LSB-first bit packing, clear/end codes, code width
    growing 1 bit as the table fills (max 12), table frozen at 4096 until
    the encoder sends a clear (deferred-clear handling)."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    next_code = end + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while len(out) < expected:
        if bitpos + code_size > total_bits:
            break
        byte_idx = bitpos >> 3
        window = int.from_bytes(data[byte_idx : byte_idx + 4], "little")
        code = (window >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == end:
            break
        if code == clear:
            code_size = min_code_size + 1
            table = {i: bytes([i]) for i in range(clear)}
            next_code = end + 1
            prev = None
            continue
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"corrupt LZW stream (code {code})")
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        out += entry
        prev = entry
    if len(out) < expected:
        raise ValueError("truncated LZW pixel data")
    return bytes(out[:expected])


class _BitWriter:
    """LSB-first bit packer (the GIF LZW byte order)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Real LZW compression, the mirror of _lzw_decode's growth rule: the
    encoder widens after its next_code passes (1 << size) — one step after
    the decoder, which is one table entry behind when it reads."""
    clear = 1 << min_code_size
    end = clear + 1
    w = _BitWriter()
    code_size = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    w.write(clear, code_size)
    buf = b""
    for b in indices:
        cand = buf + bytes([b])
        if cand in table:
            buf = cand
            continue
        w.write(table[buf], code_size)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        buf = bytes([b])
    if buf:
        w.write(table[buf], code_size)
    w.write(end, code_size)
    return w.finish()


def _lzw_encode_literals(indices: bytes, min_code_size: int) -> bytes:
    """The classic 'uncompressed GIF' stream: literal codes only, with a
    clear code re-sent before the decoder's table would force a code-width
    change. A structurally different encoder from _lzw_encode, so decoder
    tests cross-check two independent stream shapes."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    # decoder adds one table entry per literal after the first; stay clear
    # of the (1 << code_size) - (end + 1) budget with margin
    chunk = (1 << code_size) - (end + 1) - 2
    w = _BitWriter()
    for i in range(0, len(indices), chunk):
        w.write(clear, code_size)
        for b in indices[i : i + chunk]:
            w.write(b, code_size)
    w.write(end, code_size)
    return w.finish()


def decode_gif(content: bytes) -> np.ndarray:
    """GIF87a/89a → HxWx3 uint8 (first frame): header walk, color table,
    sub-block reassembly, full LZW decode. Interlaced images raise (fall
    back to the stub) — everything else, including deferred clears and
    local color tables, is handled."""
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(content) < 14:
        raise ValueError("truncated GIF header")
    flags = content[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 ** ((flags & 7) + 1)
        gct = np.frombuffer(content, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(content):
        marker = content[pos]
        if marker == 0x21:  # extension: label byte then sub-blocks
            pos += 2
            while content[pos] != 0:
                pos += 1 + content[pos]
            pos += 1
        elif marker == 0x2C:  # image descriptor
            _x, _y, iw, ih, iflags = struct.unpack_from("<HHHHB", content, pos + 1)
            pos += 10
            lct = gct
            if iflags & 0x80:
                n = 2 ** ((iflags & 7) + 1)
                lct = np.frombuffer(content, np.uint8, 3 * n, pos).reshape(n, 3)
                pos += 3 * n
            if iflags & 0x40:
                raise ValueError("interlaced GIF unsupported")
            if lct is None:
                raise ValueError("GIF image has no color table")
            min_code_size = content[pos]
            pos += 1
            data = bytearray()
            while content[pos] != 0:
                sz = content[pos]
                data += content[pos + 1 : pos + 1 + sz]
                pos += 1 + sz
            pos += 1
            idx = np.frombuffer(
                _lzw_decode(bytes(data), min_code_size, iw * ih), np.uint8
            ).astype(np.int32)
            if int(idx.max(initial=0)) >= lct.shape[0]:
                raise ValueError("GIF pixel index outside color table")
            return lct[idx.reshape(ih, iw)].copy()
        elif marker == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block marker 0x{marker:02x}")
    raise ValueError("no image data in GIF")


def encode_gif(px: np.ndarray, literals_only: bool = False) -> bytes:
    """HxWx3 uint8 (≤256 distinct colors) → single-frame GIF89a. Palette is
    built from the image; ``literals_only`` switches to the clear-heavy
    uncompressed-style stream (see _lzw_encode_literals)."""
    h, w_, _ = px.shape
    flat = px.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if palette.shape[0] > 256:
        raise ValueError("encode_gif needs <= 256 distinct colors")
    pal = np.zeros((256, 3), dtype=np.uint8)
    pal[: palette.shape[0]] = palette
    indices = inverse.astype(np.uint8).tobytes()
    min_code_size = 8
    lzw = (_lzw_encode_literals if literals_only else _lzw_encode)(
        indices, min_code_size
    )
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w_, h, 0x80 | 0x07, 0, 0)  # GCT, 256 entries
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w_, h, 0)
    out.append(min_code_size)
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def decode_image(content: bytes) -> np.ndarray:
    kind = sniff(content)
    if kind == "png":
        return decode_png(content)
    if kind == "jpeg":
        from restaurant_etl_spark.sources.jpeg_codec import decode_jpeg

        return decode_jpeg(content)
    if kind == "gif":
        return decode_gif(content)
    if kind == "bmp":
        return decode_bmp(content)
    if kind == "ppm":
        return decode_ppm(content)
    raise ValueError("no stdlib decoder for this image format")


# ------------------------------------------------------------------ MP4 ----
#
# Frame DECODE needs libav and stays stubbed; the CONTAINER is pure box
# structure ([size:4][type:4] nesting) and parses in stdlib. This is the
# real shape of video handling in a 100 TB pipeline anyway: metadata
# (duration, geometry, track layout) drives partitioning/filtering at scan
# time, and pixel decode happens only inside the sampled-frame UDF.


def parse_mp4_meta(content: bytes) -> dict:
    """ISO-BMFF (MP4/MOV) metadata: walk the box tree to mvhd (movie
    timescale + duration), count traks, and pull presentation width/height
    from the first video tkhd (16.16 fixed point). Raises on non-MP4 or
    missing moov so callers fall back to column metadata."""
    if len(content) < 12 or content[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF container")

    def boxes(lo: int, hi: int):
        pos = lo
        while pos + 8 <= hi:
            (size,) = struct.unpack_from(">I", content, pos)
            btype = content[pos + 4 : pos + 8]
            if size == 1:  # 64-bit largesize
                (size,) = struct.unpack_from(">Q", content, pos + 8)
                body = pos + 16
            elif size == 0:  # to end of enclosing box
                size = hi - pos
                body = pos + 8
            else:
                body = pos + 8
            if size < 8 or pos + size > hi:
                raise ValueError("corrupt MP4 box")
            yield btype, body, pos + size
            pos += size

    meta = {"duration_ms": None, "n_tracks": 0, "width": None, "height": None}
    moov = None
    for btype, body, end in boxes(0, len(content)):
        if btype == b"moov":
            moov = (body, end)
            break
    if moov is None:
        raise ValueError("MP4 has no moov box")
    for btype, body, end in boxes(*moov):
        if btype == b"mvhd":
            version = content[body]
            if version == 1:
                timescale, duration = struct.unpack_from(">IQ", content, body + 20)
            else:
                timescale, duration = struct.unpack_from(">II", content, body + 12)
            if timescale:
                meta["duration_ms"] = int(round(1000 * duration / timescale))
        elif btype == b"trak":
            meta["n_tracks"] += 1
            for t2, b2, e2 in boxes(body, end):
                if t2 == b"tkhd" and meta["width"] is None:
                    version = content[b2]
                    # version/flags(4) + times/track/duration (32 v0, 44
                    # v1) + reserved(8) + layer/alt/volume/reserved(8) +
                    # matrix(36) → width at 76 (v0) / 88 (v1)
                    geo_at = b2 + (88 if version == 1 else 76)
                    w_fp, h_fp = struct.unpack_from(">II", content, geo_at)
                    if w_fp and h_fp:
                        meta["width"] = w_fp >> 16
                        meta["height"] = h_fp >> 16
    return meta


def make_mp4(
    duration_ms: int, width: int = 0, height: int = 0, n_tracks: int = 1
) -> bytes:
    """Minimal valid ISO-BMFF skeleton (ftyp + moov[mvhd + n×trak[tkhd]]),
    the fixture counterpart of parse_mp4_meta — no media data, exactly
    like a metadata probe sees after reading the first megabyte."""

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + btype + body

    timescale = 1000
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00" + b"\x00" * 8
        + struct.pack(">II", timescale, duration_ms)
        + b"\x00\x01\x00\x00" + b"\x01\x00" + b"\x00" * 10 + b"\x00" * 36
        + b"\x00" * 24 + struct.pack(">I", n_tracks + 1),
    )
    traks = b""
    for i in range(n_tracks):
        tkhd_body = (
            b"\x00\x00\x00\x07" + b"\x00" * 8
            + struct.pack(">I", i + 1) + b"\x00" * 4
            + struct.pack(">I", duration_ms) + b"\x00" * 8
            + b"\x00" * 8 + b"\x00" * 36
            + struct.pack(">II", (width if i == 0 else 0) << 16,
                          (height if i == 0 else 0) << 16)
        )
        traks += box(b"trak", box(b"tkhd", tkhd_body))
    return box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + box(b"moov", mvhd + traks)


# ------------------------------------------------------------------ MP3 ----

_MP3_BITRATES_V1L3 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
_MP3_RATES_V1 = [44100, 48000, 32000]


def parse_mp3_meta(content: bytes) -> dict:
    """MPEG-1 Layer III frame-header metadata: bitrate, sample rate,
    channel mode, and a duration estimate (stream bytes / byte rate — the
    CBR estimate every tag-less player uses). Sample DECODE needs a
    codec and stays stubbed; the header math is pure bit-twiddling.
    Accepts an optional leading ID3v2 tag."""
    pos = 0
    if content[:3] == b"ID3" and len(content) >= 10:
        # syncsafe 28-bit tag length
        pos = 10 + (
            (content[6] << 21) | (content[7] << 14) | (content[8] << 7) | content[9]
        )
    if pos + 4 > len(content):
        raise ValueError("no MP3 frame header")
    b0, b1, b2, _b3 = content[pos : pos + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        raise ValueError("no MP3 frame sync")
    version = (b1 >> 3) & 0x3  # 3 = MPEG-1
    layer = (b1 >> 1) & 0x3  # 1 = Layer III
    if version != 3 or layer != 1:
        raise ValueError("only MPEG-1 Layer III supported")
    bitrate_idx = (b2 >> 4) & 0xF
    rate_idx = (b2 >> 2) & 0x3
    if bitrate_idx in (0, 15) or rate_idx == 3:
        raise ValueError("free-form/invalid MP3 header")
    bitrate_kbps = _MP3_BITRATES_V1L3[bitrate_idx]
    sample_rate = _MP3_RATES_V1[rate_idx]
    mode = (content[pos + 3] >> 6) & 0x3
    stream_bytes = len(content) - pos
    duration_ms = int(round(stream_bytes * 8 / bitrate_kbps))  # kbit/s → ms
    return {
        "bitrate_kbps": bitrate_kbps,
        "sample_rate": sample_rate,
        "channels": 1 if mode == 3 else 2,
        "duration_ms": duration_ms,
    }


def make_mp3(duration_ms: int, bitrate_kbps: int = 128, mono: bool = False) -> bytes:
    """A CBR MPEG-1 Layer III stream skeleton: valid frame headers +
    zeroed payloads sized so parse_mp3_meta's CBR estimate recovers
    ``duration_ms`` exactly — the fixture counterpart of the parser."""
    idx = _MP3_BITRATES_V1L3.index(bitrate_kbps)
    hdr = bytes(
        [0xFF, 0xFB, (idx << 4) | (0 << 2), 0xC0 if mono else 0x00]
    )  # 44100 Hz, no padding
    frame_len = 144 * bitrate_kbps * 1000 // 44100  # bytes per frame
    total_bytes = duration_ms * bitrate_kbps // 8  # ms × kbit/s / 8
    if total_bytes < frame_len:
        # shorter than one frame: the stream would still be frame_len bytes
        # and the round-trip estimate would silently disagree — refuse
        # instead of breaking the documented exactness contract
        raise ValueError(
            f"duration_ms={duration_ms} is shorter than one frame "
            f"({frame_len * 8 // bitrate_kbps} ms at {bitrate_kbps} kbps)"
        )
    n_frames = total_bytes // frame_len
    out = bytearray()
    for _ in range(n_frames):
        out += hdr + b"\x00" * (frame_len - 4)
    out += b"\x00" * (total_bytes - len(out))
    return bytes(out)


def decode_wav(content: bytes) -> tuple[np.ndarray, int, int]:
    """PCM WAV → (mono float32 samples in [-1, 1], sample_rate, duration_ms)
    via the stdlib ``wave`` module. 16-bit and 8-bit PCM supported."""
    import wave

    with wave.open(io.BytesIO(content), "rb") as w:
        n = w.getnframes()
        rate = w.getframerate()
        width = w.getsampwidth()
        channels = w.getnchannels()
        raw = w.readframes(n)
    if width == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 1:
        samples = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported WAV sample width {width}")
    if channels > 1:
        samples = samples.reshape(-1, channels).mean(axis=1)
    duration_ms = int(round(1000 * n / rate)) if rate else 0
    return samples, rate, duration_ms


# ------------------------------------------------------ AVI (RIFF/MJPEG) ----
# Motion-JPEG in a RIFF AVI container: every frame is an independent
# baseline JPEG, so the stdlib JPEG pipeline (sources/jpeg_codec.py)
# turns "video decode" into container traversal + per-frame image decode.
# Layout per the public Microsoft RIFF/AVI spec: RIFF('AVI ') →
# LIST('hdrl': avih + LIST('strl': strh/strf)) → LIST('movi': '00dc'...).


def _riff_chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _riff_list(list_type: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + payload)


def make_avi_mjpeg(frames: list[np.ndarray], fps: int = 25) -> bytes:
    """Encode grayscale frames as a minimal-but-valid MJPEG AVI: each
    frame goes through the real JPEG encoder (FDCT → quantize → Huffman)
    into a '00dc' movi chunk; avih/strh/strf carry true geometry, frame
    count and rate (dwScale=1, dwRate=fps)."""
    from restaurant_etl_spark.sources.jpeg_codec import encode_jpeg

    if not frames:
        raise ValueError("AVI needs at least one frame")
    h, w = frames[0].shape[:2]
    payloads = [
        encode_jpeg(f if f.ndim == 2 else f[:, :, 0]) for f in frames
    ]
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        0, 0, 0,
        len(frames),       # dwTotalFrames
        0,
        1,                 # dwStreams
        0,
        w, h,
        0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack(
            "<10I",
            0, 0, 0,
            1,             # dwScale
            fps,           # dwRate
            0,
            len(frames),   # dwLength (in frames)
            0,
            0xFFFFFFFF,    # dwQuality (default)
            0,
        )
        + struct.pack("<4H", 0, 0, w, h)  # rcFrame
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, 24,
        int.from_bytes(b"MJPG", "little"),
        w * h * 3,
        0, 0, 0, 0,
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(
        b"movi", b"".join(_riff_chunk(b"00dc", p) for p in payloads)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_avi(content: bytes) -> dict:
    """RIFF AVI container parse: geometry + frame rate from avih/strh,
    every video frame payload ('..dc'/'..db' chunks) returned raw for the
    per-frame image decoder. Word-aligned chunk traversal (odd sizes are
    padded) per the RIFF spec; raises on non-AVI input."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not a RIFF AVI file")
    meta: dict = {"usec_per_frame": 0, "n_frames": 0, "width": 0,
                  "height": 0, "fps": 0}
    frames: list[bytes] = []

    def walk(buf: bytes) -> None:
        pos = 0
        while pos + 8 <= len(buf):
            fourcc = buf[pos : pos + 4]
            (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            payload = buf[pos + 8 : pos + 8 + size]
            if fourcc == b"LIST":
                walk(payload[4:])
            elif fourcc == b"avih":
                vals = struct.unpack("<14I", payload[:56])
                meta.update(
                    usec_per_frame=vals[0], n_frames=vals[4],
                    width=vals[8], height=vals[9],
                )
            elif fourcc == b"strh" and payload[:4] == b"vids":
                scale, rate = struct.unpack("<II", payload[20:28])
                # keep the exact rational; the int fps is ROUNDED, not
                # floor-divided, so NTSC-style 30000/1001 reads 30, not 29
                # (exact for this repo's own encoder, which writes scale=1)
                meta["rate"] = rate
                meta["scale"] = scale
                meta["fps"] = int(round(rate / max(scale, 1)))
            elif fourcc[2:4] in (b"dc", b"db"):
                frames.append(payload)
            pos += 8 + size + (size % 2)

    walk(content[12:])
    meta["frames"] = frames
    return meta
