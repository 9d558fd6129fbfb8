"""Deterministic in-sandbox OCR: fixed-width 5×5 glyph bitmaps rendered
onto real raster images and recognized back by exact template matching.

This closes the S4/S5 test gap the sandbox imposes (no PaddleOCR, no
network for Azure): instead of a canned-string stub, tests render text
into REAL pixels (PNG/PPM via sources/media_codecs.py, or a scanned-page
PDF wrapping a grayscale image XObject), then run the full
rasterize → OCR → word-confidence-filter path. ``template_ocr_transport``
returns the same public Azure ``prebuilt-read`` analyze-result shape that
``sources/ocr.py:parse_read_result`` consumes — pages → lines (content +
spans) and words with per-word confidence — so the entire downstream
pipeline (confidence gates, span attribution, success semantics) runs
unchanged against pixels it actually decoded.

Recognition is exact template matching over the same font renders use,
done as one array match per text line: the line's 5×5 cells are compared
against every glyph template at once and each cell's agreeing pixels are
counted per glyph. Confidence comes from the fraction of agreeing pixels,
so clean renders score 1.0 and corrupted pixels degrade confidence
continuously — which is what lets tests exercise the P3 confidence
cutoffs (0.5 / 0.6) with real failing pixels.

Ref: restaurant_etl/extractors/pdf_extractor.py:68-97 and
image_extractor.py:16-87 are the engines this stands in for in-sandbox.
"""

from __future__ import annotations

import re
import struct
import zlib

import numpy as np

#: 5×5 fixed-width font (uppercase fold). 1 = ink. Every glyph is distinct
#: (asserted at import) so exact matching is unambiguous.
FONT: dict[str, list[str]] = {
    "A": ["01110", "10001", "11111", "10001", "10001"],
    "B": ["11110", "10001", "11110", "10001", "11110"],
    "C": ["01111", "10000", "10000", "10000", "01111"],
    "D": ["11110", "10001", "10001", "10001", "11110"],
    "E": ["11111", "10000", "11110", "10000", "11111"],
    "F": ["11111", "10000", "11110", "10000", "10000"],
    "G": ["01111", "10000", "10011", "10001", "01111"],
    "H": ["10001", "10001", "11111", "10001", "10001"],
    "I": ["11111", "00100", "00100", "00100", "11111"],
    "J": ["00111", "00010", "00010", "10010", "01100"],
    "K": ["10001", "10010", "11100", "10010", "10001"],
    "L": ["10000", "10000", "10000", "10000", "11111"],
    "M": ["10001", "11011", "10101", "10001", "10001"],
    "N": ["10001", "11001", "10101", "10011", "10001"],
    "O": ["01110", "10001", "10001", "10001", "01110"],
    "P": ["11110", "10001", "11110", "10000", "10000"],
    "Q": ["01110", "10001", "10101", "10010", "01101"],
    "R": ["11110", "10001", "11110", "10010", "10001"],
    "S": ["01111", "10000", "01110", "00001", "11110"],
    "T": ["11111", "00100", "00100", "00100", "00100"],
    "U": ["10001", "10001", "10001", "10001", "01110"],
    "V": ["10001", "10001", "10001", "01010", "00100"],
    "W": ["10001", "10001", "10101", "11011", "10001"],
    "X": ["10001", "01010", "00100", "01010", "10001"],
    "Y": ["10001", "01010", "00100", "00100", "00100"],
    "Z": ["11111", "00010", "00100", "01000", "11111"],
    "0": ["01110", "10011", "10101", "11001", "01110"],
    "1": ["00100", "01100", "00100", "00100", "01110"],
    "2": ["01110", "10001", "00110", "01000", "11111"],
    "3": ["11110", "00001", "01110", "00001", "11110"],
    "4": ["00010", "00110", "01010", "11111", "00010"],
    "5": ["11111", "10000", "11110", "00001", "11110"],
    "6": ["01110", "10000", "11110", "10001", "01110"],
    "7": ["11111", "00001", "00010", "00100", "00100"],
    "8": ["01110", "10001", "01110", "10001", "01110"],
    "9": ["01110", "10001", "01111", "00001", "01110"],
    "$": ["01111", "10100", "01110", "00101", "11110"],
    ".": ["00000", "00000", "00000", "00000", "00100"],
    ",": ["00000", "00000", "00000", "00100", "01000"],
    "-": ["00000", "00000", "01110", "00000", "00000"],
    ":": ["00000", "00100", "00000", "00100", "00000"],
    "(": ["00100", "01000", "01000", "01000", "00100"],
    ")": ["00100", "00010", "00010", "00010", "00100"],
    "/": ["00001", "00010", "00100", "01000", "10000"],
    "|": ["00100", "00100", "00100", "00100", "00100"],
}

GLYPH_H = 5
GLYPH_W = 5
CELL_W = GLYPH_W + 1  # 1px inter-glyph gap
LINE_H = GLYPH_H + 2  # 2px inter-line gap

_bitmaps = {
    ch: np.array([[int(b) for b in row] for row in rows], dtype=np.uint8)
    for ch, rows in FONT.items()
}
assert len({bm.tobytes() for bm in _bitmaps.values()}) == len(_bitmaps), (
    "glyph bitmaps must be pairwise distinct for exact template matching"
)

_GLYPHS = list(_bitmaps)
#: (G, 25) stacked templates in FONT order; its ink counts per glyph
_TEMPLATES = np.stack([bm.reshape(-1) for bm in _bitmaps.values()]).astype(np.int32)
_TEMPLATE_INK = _TEMPLATES.sum(axis=1)


def render_text_image(text: str) -> np.ndarray:
    """Render text (newline-separated lines) as a grayscale uint8 image:
    ink = 0, background = 255, fixed 6px cells, 7px line pitch, 1px margin.
    Characters outside the font raise — a silent substitution would make
    the recognition round-trip lie."""
    lines = text.upper().split("\n")
    width = max((len(ln) for ln in lines), default=0) * CELL_W + 2
    height = len(lines) * LINE_H + 2
    img = np.full((max(height, 1), max(width, 1)), 255, dtype=np.uint8)
    for li, ln in enumerate(lines):
        y = 1 + li * LINE_H
        for ci, ch in enumerate(ln):
            if ch == " ":
                continue
            if ch not in _bitmaps:
                raise ValueError(f"no glyph for character {ch!r}")
            x = 1 + ci * CELL_W
            img[y : y + GLYPH_H, x : x + GLYPH_W][_bitmaps[ch] == 1] = 0
    return img


def _match_cells(cells: np.ndarray) -> tuple[list[str], list[float]]:
    """Best glyph for each row of an (n, 25) 0/1 ink array, with
    MARGIN-normalized confidence (best - second) / (1 - second): an exact
    match scores 1.0, while noise that matches several glyphs about equally
    well collapses toward 0 — raw best-match agreement stays ~0.8 on garbage
    (some glyph always agrees on most pixels), which would defeat the
    confidence gates. ``best`` is the first glyph (FONT order) with the most
    agreeing pixels; ``second`` is the runner-up score counted with ties, so
    two equally good glyphs give confidence 0."""
    c = cells.astype(np.int32)
    n_px = GLYPH_H * GLYPH_W
    # agreeing pixels = both ink + both background
    agree = n_px - c.sum(axis=1)[:, None] - _TEMPLATE_INK[None, :] + 2 * (c @ _TEMPLATES.T)
    best_i = agree.argmax(axis=1)
    best = agree[np.arange(len(c)), best_i] / n_px
    second = np.partition(agree, -2, axis=1)[:, -2] / n_px
    with np.errstate(divide="ignore", invalid="ignore"):
        conf = np.where(best >= 1.0, 1.0, (best - second) / (1.0 - second))
    return [_GLYPHS[i] for i in best_i], np.maximum(conf, 0.0).tolist()


def recognize_pixels(px: np.ndarray) -> dict:
    """Grayscale (or RGB/RGBA, channel-averaged) pixels → analyze-result
    JSON in the public Azure ``prebuilt-read`` response shape: pages →
    lines (content + spans into the page text) and words with per-word
    confidence (mean glyph match score). Line/word segmentation assumes
    the renderer's fixed geometry — this is template OCR, not a vision
    model; its job is to make the downstream plumbing run on real pixels."""
    if px.ndim == 3:
        px = px.mean(axis=2)
    ink = (px < 128).astype(np.uint8)

    # line segmentation: contiguous ink row-runs, SNAPPED to the renderer's
    # fixed grid (1px margin, LINE_H pitch) — a line containing only
    # low-ink glyphs ('.', '-') first shows ink mid-cell, so the run start
    # alone would misalign the 5x5 template window
    row_has_ink = ink.any(axis=1)
    line_indices: list[int] = []
    y = 0
    n_rows = ink.shape[0]
    while y < n_rows:
        if row_has_ink[y]:
            li = (y - 1) // LINE_H
            if not line_indices or line_indices[-1] != li:
                line_indices.append(li)
            y = 1 + (li + 1) * LINE_H  # jump to the next line's band
        else:
            y += 1

    lines_out: list[dict] = []
    words_out: list[dict] = []
    offset = 0
    for li in line_indices:
        y0 = 1 + li * LINE_H
        band = ink[y0 : y0 + GLYPH_H]
        if band.shape[0] < GLYPH_H:  # a line cut off by the image edge
            continue
        n_cells = (band.shape[1] - 1) // CELL_W
        # (n_cells, 25): each cell's 5×5 window, the 1px gap column dropped
        cells = (
            band[:, 1 : 1 + n_cells * CELL_W]
            .reshape(GLYPH_H, n_cells, CELL_W)[:, :, :GLYPH_W]
            .transpose(1, 0, 2)
            .reshape(n_cells, GLYPH_H * GLYPH_W)
        )
        inked = np.flatnonzero(cells.any(axis=1))
        chars = [(" ", 1.0)] * n_cells
        for i, ch, conf in zip(inked.tolist(), *_match_cells(cells[inked])):
            chars[i] = (ch, conf)
        content = "".join(ch for ch, _ in chars).rstrip()
        if not content:
            continue
        line_start = offset
        # words: split on spaces, confidence = mean glyph score of the word
        for m in re.finditer(r"\S+", content):
            scores = [s for _, s in chars[m.start() : m.end()]]
            words_out.append(
                {
                    "content": m.group(),
                    "span": {"offset": line_start + m.start(), "length": len(m.group())},
                    "confidence": round(float(np.mean(scores)), 4),
                }
            )
        lines_out.append(
            {
                "content": content,
                "spans": [{"offset": line_start, "length": len(content)}],
            }
        )
        offset = line_start + len(content) + 1  # '\n' separator

    return {
        "analyzeResult": {
            "apiVersion": "2024-02-29-preview",
            "modelId": "prebuilt-read",
            "pages": [{"pageNumber": 1, "lines": lines_out, "words": words_out}],
        }
    }


# ------------------------------------------------------------- scanned PDF


def make_scanned_pdf(px: np.ndarray) -> bytes:
    """Wrap grayscale pixels as a minimal 'scanned page' PDF: one page, no
    text layer, one Flate-compressed /DeviceGray image XObject — the shape
    a scanner emits and exactly what trips the S4 OCR fallback (native
    text extraction finds no BT/ET operators → 0 chars < 60)."""
    h, w = px.shape
    img_data = zlib.compress(px.astype(np.uint8).tobytes())
    contents = b"q 612 0 0 792 0 0 cm /Im0 Do Q"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /XObject << /Im0 5 0 R >> >> >>"
        ),
        b"<< /Length " + str(len(contents)).encode() + b" >>\nstream\n"
        + contents + b"\nendstream",
        (
            b"<< /Type /XObject /Subtype /Image /Width " + str(w).encode()
            + b" /Height " + str(h).encode()
            + b" /ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /FlateDecode"
            + b" /Length " + str(len(img_data)).encode() + b" >>\nstream\n"
            + img_data + b"\nendstream"
        ),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


_PDF_IMAGE_RE = re.compile(rb"<<([^>]*?/Subtype\s*/Image[^>]*?)>>\s*stream\r?\n")
#: a direct ``/Length n`` — not an indirect ``/Length n 0 R`` reference
_PDF_DIRECT_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b(?!\s+\d+\s+R)")


def _pdf_embedded_gray(content: bytes) -> np.ndarray:
    """Pull the first /DeviceGray 8-bit Flate image XObject out of a PDF —
    the 'rasterize' step for scanned pages (real scanners embed exactly
    this; a full renderer is out of scope and unnecessary for template
    glyphs). The stream is taken by its direct /Length; without one it runs
    to ``endstream``, and the end-of-line bytes before that keyword are left
    over after the Flate stream ends (compressed data may itself end in
    0x0D, so no trailing byte can be stripped on sight)."""
    for m in _PDF_IMAGE_RE.finditer(content):
        head, start = m.group(1), m.end()
        wm = re.search(rb"/Width\s+(\d+)", head)
        hm = re.search(rb"/Height\s+(\d+)", head)
        if not (wm and hm and b"/DeviceGray" in head and b"/FlateDecode" in head):
            continue
        lm = _PDF_DIRECT_LENGTH_RE.search(head)
        if lm:
            data = content[start : start + int(lm.group(1))]
        else:
            end = content.find(b"endstream", start)
            if end < 0:
                continue
            data = content[start:end]
        inflate = zlib.decompressobj()
        raw = inflate.decompress(data)
        if not inflate.eof:
            raise ValueError("truncated Flate image stream in PDF")
        w, h = int(wm.group(1)), int(hm.group(1))
        if len(raw) < w * h:
            continue
        return np.frombuffer(raw, dtype=np.uint8, count=w * h).reshape(h, w)
    raise ValueError("no decodable /DeviceGray image XObject in PDF")


def template_ocr_transport(content: bytes) -> dict:
    """An ``OcrTransport`` (sources/ocr.py) with zero network: decode the
    payload's pixels (PNG/BMP/PPM via media_codecs, or the embedded image
    of a scanned PDF) and template-match them back to text. Module-level →
    picklable into mapInPandas closures."""
    from restaurant_etl_spark.sources.media_codecs import decode_image

    if content[:5] == b"%PDF-":
        px = _pdf_embedded_gray(content)
    else:
        px = decode_image(content)
    return recognize_pixels(px)
