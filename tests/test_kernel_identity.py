"""Output identity of the OCR-path kernels: PNG unfilter, JPEG entropy
decode + IDCT, and glyph template matching.

The digests in ``PINNED`` were recorded from the per-byte, per-bit and
per-cell implementations that the array kernels replaced, over inputs this
file builds deterministically. A kernel change that moves a single output
pixel or confidence value changes a digest.
"""

from __future__ import annotations

import hashlib
import json
import struct
import zlib

import numpy as np
import pytest

from restaurant_etl_spark.sources.glyph_ocr import (
    _bitmaps,
    _match_cells,
    recognize_pixels,
    render_text_image,
)
from restaurant_etl_spark.sources.jpeg_codec import decode_jpeg, encode_jpeg
from restaurant_etl_spark.sources.media_codecs import PNG_SIGNATURE, decode_png

PINNED = {
    "png/gray": "62ac926af2669f5d51e1163fc0c33fe6883cc447e76f74af2d0e9839008e639e",
    "png/gray_alpha": "a4d9f5668608d96aecbd5381cd868f87d5e9016eaeef1864a652a27df56c4301",
    "png/rgb": "f4a15d9be6cd81b22ee08cacf9432f404adb54acd03c2c57b3c73e7ba82f20fe",
    "png/rgba": "51c7bfb51d6cd50282af81682183e1bad4f9f8e28dbd51f0d2b91af9e50de8f6",
    "png/palette": "db149dd9f1e8875a03011b4086fb2f7fdfa53735cb345c1ebe161c2ed33ee3c4",
    "jpeg/gray_q1": "cb8d982cdf8edfcc2b9130e8497bd95982116b4dc221d62449f76193626851d5",
    "jpeg/gray_q8": "0e9b70e58c56c1091cf6af3b9ee951841aea38e1b6f3e6556c6ca3c5e3474f2f",
    "jpeg/rgb_q1": "d49c273933eb05fafbaf73b497b1b8d9068688a1fe2da76d5e03ace0a8442b4d",
    "jpeg/rgb_q8": "782071ea7f464ba871277fc91333e541c64dfef5a8d90e223c7a5b804ca06d24",
    "jpeg/rgb_420": "b0b47c65e866985592eaa3335b98670aac8364c4c0ec4320765d2725973b2ca8",
    "jpeg/rgb_422": "990158753bb15124bb0d10bd42623664abcde27a634cfd65e3490a04d7a90ef8",
    "ocr/clean": "24857173d1ce1dc9670a21030f09051435ffdb9169d330f3f899e76d2203de17",
    "ocr/noisy": "3728b026d9f72bec4a68ca20e992a58477edb1089cff694b1bb5592464769c1f",
}


def _digest(arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        a = np.ascontiguousarray(a)
        h.update(f"{a.shape}{a.dtype}".encode())
        h.update(a.tobytes())
    return h.hexdigest()


# ---------------------------------------------------------------- PNG ----

_PNG_KINDS = {  # name -> (color type, channels)
    "gray": (0, 1),
    "gray_alpha": (4, 2),
    "rgb": (2, 3),
    "rgba": (6, 4),
    "palette": (3, 1),
}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def _png_from_rows(filters, body: np.ndarray, color_type: int, palette: bytes | None) -> bytes:
    """A PNG whose scanlines are ``body`` rows taken as already-filtered
    bytes, each tagged with its filter type: random bytes under every
    filter drive the unfilter arithmetic through all of its branches."""
    h, stride = body.shape
    ch = dict(_PNG_KINDS.values())[color_type]
    raw = b"".join(bytes([int(f)]) + body[y].tobytes() for y, f in enumerate(filters))
    ihdr = struct.pack(">IIBBBBB", stride // ch, h, 8, color_type, 0, 0, 0)
    out = PNG_SIGNATURE + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _png_chunk(b"PLTE", palette)
    return out + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")


def png_outputs(kind: str) -> list[np.ndarray]:
    color_type, ch = _PNG_KINDS[kind]
    rng = np.random.default_rng(100 + color_type)
    palette = rng.integers(0, 256, 768, dtype=np.uint8).tobytes() if color_type == 3 else None
    h, w = 11, 13
    outs = []
    for filt in (0, 1, 2, 3, 4, None):  # None: a random filter per row
        filters = [filt] * h if filt is not None else rng.integers(0, 5, h)
        body = rng.integers(0, 256, (h, w * ch), dtype=np.uint8)
        outs.append(decode_png(_png_from_rows(filters, body, color_type, palette)))
    return outs


# --------------------------------------------------------------- JPEG ----


def _test_image(h: int, w: int, ch: int, seed: int) -> np.ndarray:
    """Smooth gradient plus noise: long AC runs, ZRLs and large categories."""
    rng = np.random.default_rng(seed)
    yy, xx = np.indices((h, w))
    base = (yy * 5 + xx * 3) % 256
    planes = [
        np.clip(base + rng.integers(-40, 41, (h, w)) + 60 * c, 0, 255) for c in range(ch)
    ]
    px = np.stack(planes, axis=2) if ch > 1 else planes[0]
    return px.astype(np.uint8)


def _resample_sof(blob: bytes, h: int, w: int, luma_hv: int) -> bytes:
    """Re-declare a 3-component 4:4:4 encode as a subsampled frame (luma
    sampling ``luma_hv``, chroma 1×1) of h×w pixels. The entropy data is
    unchanged, so its blocks regroup into the larger MCUs and decode into a
    deterministic, subsampled image."""
    b = bytearray(blob)
    sof = b.find(b"\xff\xc0")
    struct.pack_into(">HH", b, sof + 5, h, w)
    b[sof + 11] = luma_hv
    return bytes(b)


def jpeg_outputs(kind: str) -> list[np.ndarray]:
    if kind.startswith("gray"):
        px = _test_image(37, 29, 1, 1)
        return [decode_jpeg(encode_jpeg(px, quant=int(kind[-1])))]
    if kind in ("rgb_q1", "rgb_q8"):
        px = _test_image(27, 35, 3, 2)
        return [decode_jpeg(encode_jpeg(px, quant=int(kind[-1])))]
    # 32×32 at 4:4:4 is 16 MCUs of 3 blocks: 8 MCUs at 4:2:0, 12 at 4:2:2
    blob = encode_jpeg(_test_image(32, 32, 3, 3), quant=4)
    if kind == "rgb_420":
        return [decode_jpeg(_resample_sof(blob, 30, 60, 0x22))]
    return [decode_jpeg(_resample_sof(blob, 22, 60, 0x21))]


# ---------------------------------------------------------------- OCR ----

_TEXTS = [
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ\n0123456789 $.,-:()/|",
    "STARTERS\nSAMOSA .... $5.00\nPANEER/CHICKEN PAKORA $8.00/$9.50",
    "BUTTER CHICKEN (HALF/FULL): $10.25 | $16.75\n\n-  .  ,\nDAL 1004 $1.25 X X X X",
]


def _flip(px: np.ndarray, frac: float, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    mask = rng.random(px.shape) < frac
    out = px.copy()
    out[mask] = 255 - out[mask]
    return out


def ocr_outputs(kind: str) -> list[np.ndarray]:
    renders = [render_text_image(t) for t in _TEXTS]
    if kind == "ocr/noisy":
        renders = [_flip(px, 0.08, seed) for seed in range(4) for px in renders]
    docs = [json.dumps(recognize_pixels(px), sort_keys=True) for px in renders]
    return [np.frombuffer(d.encode(), dtype=np.uint8) for d in docs]


def outputs(case: str) -> list[np.ndarray]:
    family, kind = case.split("/")
    if family == "png":
        return png_outputs(kind)
    if family == "jpeg":
        return jpeg_outputs(kind)
    return ocr_outputs(case)


@pytest.mark.parametrize("case", sorted(PINNED))
def test_output_digest_is_pinned(case):
    assert _digest(outputs(case)) == PINNED[case]


# ------------------------------------------------- JPEG restart markers ----


def _entropy_segment(blob: bytes) -> tuple[bytes, bytes]:
    """Split an encode into (headers through SOS, entropy data before EOI)."""
    sos = blob.find(b"\xff\xda")
    (seglen,) = struct.unpack_from(">H", blob, sos + 2)
    start = sos + 2 + seglen
    assert blob.endswith(b"\xff\xd9")
    return blob[:start], blob[start:-2]


@pytest.mark.parametrize("ch,tile_w,interval", [(1, 8, 1), (3, 8, 1), (1, 16, 2), (3, 16, 2)])
def test_restart_markers_join_independent_segments(ch, tile_w, interval):
    """A DRI + RSTn stream assembled from separately encoded tiles: every
    restart resets the DC predictors, so the joined image must decode to
    exactly the tiles' own decodes laid side by side."""
    rows, cols = 3, 32 // tile_w
    tiles = [
        [_test_image(8, tile_w, ch, 10 * r + c) for c in range(cols)] for r in range(rows)
    ]
    blobs = [encode_jpeg(t, quant=8) for row in tiles for t in row]
    head, _ = _entropy_segment(blobs[0])
    data = bytearray()
    for i, blob in enumerate(blobs):
        if i:
            data += bytes([0xFF, 0xD0 + (i - 1) % 8])
        data += _entropy_segment(blob)[1]
    head = bytearray(_resample_sof(head, 8 * rows, 32, 0x11))
    sos = head.find(b"\xff\xda")
    head[sos:sos] = b"\xff\xdd" + struct.pack(">HH", 4, interval)
    joined = bytes(head) + bytes(data) + b"\xff\xd9"

    decoded = [decode_jpeg(b) for b in blobs]
    expected = np.concatenate(
        [np.concatenate(decoded[r * cols : (r + 1) * cols], axis=1) for r in range(rows)]
    )
    assert np.array_equal(decode_jpeg(joined), expected)


# ------------------------------------------------------- glyph matcher ----


def _reference_match(cell: np.ndarray) -> tuple[str, float]:
    """The per-cell matcher, one glyph at a time: strict ``>`` keeps the
    first best glyph, and ``second`` counts a tied best."""
    best_ch, best, second = " ", 0.0, 0.0
    for ch, bm in _bitmaps.items():
        score = float((cell == bm).mean())
        if score > best:
            best_ch, best, second = ch, score, best
        elif score > second:
            second = score
    conf = 1.0 if best >= 1.0 else (best - second) / (1.0 - second)
    return best_ch, max(conf, 0.0)


def test_vectorized_matcher_equals_per_cell_reference():
    rng = np.random.default_rng(7)
    glyphs = np.stack(list(_bitmaps.values()))
    cells = [rng.integers(0, 2, (5, 5), dtype=np.uint8) for _ in range(400)]
    # glyphs with a few flipped pixels land equidistant from several glyphs
    for _ in range(400):
        cell = glyphs[rng.integers(len(glyphs))].copy()
        flips = rng.choice(25, rng.integers(0, 4), replace=False)
        cell.reshape(25)[flips] ^= 1
        cells.append(cell)
    cells = np.stack([c for c in cells if c.any()])
    chars, confs = _match_cells(cells.reshape(len(cells), 25))
    ref = [_reference_match(c) for c in cells]
    assert list(zip(chars, confs)) == ref
    # the sample really contains both kinds of tie
    assert any(0 < c < 1 for c in confs) and any(c == 0.0 for c in confs)
