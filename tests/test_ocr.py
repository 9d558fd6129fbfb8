"""S6 Azure-OCR variant: real response parsing over synthetic
prebuilt-read payloads; network is the only stub (injectable transport)."""

from __future__ import annotations

import pytest

from restaurant_etl_spark.sources.ocr import (
    no_network_transport,
    ocr_extract,
    parse_read_result,
)

READ_RESULT = {
    "analyzeResult": {
        "pages": [
            {
                "words": [
                    {"content": "SNACKS", "confidence": 0.99, "span": {"offset": 0, "length": 6}},
                    {"content": "Samosa", "confidence": 0.95, "span": {"offset": 7, "length": 6}},
                    {"content": "$5.00", "confidence": 0.93, "span": {"offset": 14, "length": 5}},
                    {"content": "smudge", "confidence": 0.21, "span": {"offset": 20, "length": 6}},
                ],
                "lines": [
                    {"content": "SNACKS", "spans": [{"offset": 0, "length": 6}]},
                    {"content": "Samosa $5.00", "spans": [{"offset": 7, "length": 12}]},
                    {"content": "smudge", "spans": [{"offset": 20, "length": 6}]},
                ],
            },
            {"words": [], "lines": [{"content": "Tea $2.00"}]},
        ]
    }
}


def test_parse_matches_reference_traversal():
    # azure_ocr_extractor.py:33-39 — all pages' lines' content, "\n"-joined
    assert parse_read_result(READ_RESULT) == "SNACKS\nSamosa $5.00\nsmudge\nTea $2.00"


def test_word_confidence_gate_drops_low_confidence_lines():
    text = parse_read_result(READ_RESULT, min_word_confidence=0.6)
    assert text == "SNACKS\nSamosa $5.00\nTea $2.00"  # the 0.21 smudge line dropped


def test_injected_transport_and_error_isolation():
    text, err = ocr_extract(b"fake scan", transport=lambda content: READ_RESULT)
    assert err is None and text.startswith("SNACKS")

    def broken(content):
        raise ConnectionError("boom")

    text, err = ocr_extract(b"fake scan", transport=broken)
    assert text == "" and "ConnectionError" in err


def test_default_transport_refuses_instead_of_faking():
    with pytest.raises(NotImplementedError):
        no_network_transport(b"scan")
    # and through ocr_extract: captured as an error, not raised
    text, err = ocr_extract(b"scan")
    assert text == "" and "NotImplementedError" in err


def test_spark_extraction_with_injected_ocr_transport(spark, tmp_path):
    """Through the full binaryFile → mapInPandas path: a scanned PDF and an
    image both OCR through the injected transport; the text-layer PDF does
    NOT touch OCR (native path wins)."""
    from restaurant_etl_spark.sources.binary import (
        extract_binary_text,
        read_binary_dir,
        with_format,
    )
    from tests.test_pdf_text import _pdf_bytes

    long_stream = b"BT " + b" ".join(
        b"(Dish number %d costs $%d.00) Tj 0 -14 Td" % (i, i) for i in range(10)
    ) + b" ET"
    (tmp_path / "textlayer.pdf").write_bytes(_pdf_bytes(long_stream, compress=True))
    (tmp_path / "scan.pdf").write_bytes(_pdf_bytes(b"q /Im0 Do Q", compress=True))
    (tmp_path / "photo.jpg").write_bytes(b"\xff\xd8\xff fake jpeg")

    rows = {
        r["path"].rsplit("/", 1)[1]: r
        for r in extract_binary_text(
            with_format(read_binary_dir(spark, str(tmp_path))),
            ocr_transport=lambda content: READ_RESULT,
        ).collect()
    }
    assert rows["textlayer.pdf"]["extraction_method"] == "pdf_native_text"
    scan = rows["scan.pdf"]
    assert scan["extraction_method"] == "pdf_azure_ocr" and scan["success"]
    assert scan["text"] == "SNACKS\nSamosa $5.00\nTea $2.00"  # conf-gated lines
    photo = rows["photo.jpg"]
    assert photo["extraction_method"] == "image_azure_ocr"
    assert photo["text"].startswith("SNACKS")


# ------------------------------------------------- template OCR (real pixels)


def test_glyph_ocr_spark_end_to_end_on_real_pixels(spark, tmp_path):
    """S4 + S5 with REAL decoded pixels, no canned strings anywhere:
    render glyph text → PNG image files and a scanned PDF (embedded
    DeviceGray XObject, no text layer) → binaryFile → extract_binary_text
    with the template-matching transport. The recognizer sees only pixels
    that came back out of the real codecs."""
    import numpy as np

    from restaurant_etl_spark.sources.binary import (
        extract_binary_text,
        read_binary_dir,
        with_format,
    )
    from restaurant_etl_spark.sources.glyph_ocr import (
        make_scanned_pdf,
        render_text_image,
        template_ocr_transport,
    )
    from restaurant_etl_spark.sources.media_codecs import encode_png

    menu_a = "SNACKS\nSAMOSA .... $5.00"
    menu_b = "DRINKS\nTEA: $2.50/$4.75"
    (tmp_path / "a.png").write_bytes(encode_png(render_text_image(menu_a), filter_type=2))
    (tmp_path / "scan.pdf").write_bytes(make_scanned_pdf(render_text_image(menu_b)))

    rows = {
        r["path"].rsplit("/", 1)[1]: r
        for r in extract_binary_text(
            with_format(read_binary_dir(spark, str(tmp_path))),
            ocr_transport=template_ocr_transport,
        ).collect()
    }
    a = rows["a.png"]
    assert a["extraction_method"] == "image_azure_ocr" and a["success"]
    assert a["text"] == menu_a
    b = rows["scan.pdf"]
    assert b["extraction_method"] == "pdf_azure_ocr" and b["success"]
    assert b["text"] == menu_b


def test_glyph_ocr_confidence_gate_drops_corrupted_pixels(spark, tmp_path):
    """P3 confidence cutoffs exercised by genuinely bad pixels: a
    checkerboard-corrupted line must fall below the 0.6 image gate (its
    best-vs-second glyph margin collapses) while clean lines pass at 1.0."""
    import numpy as np

    from restaurant_etl_spark.sources.binary import (
        extract_binary_text,
        read_binary_dir,
        with_format,
    )
    from restaurant_etl_spark.sources.glyph_ocr import (
        GLYPH_H,
        LINE_H,
        render_text_image,
        template_ocr_transport,
    )
    from restaurant_etl_spark.sources.media_codecs import encode_png

    img = render_text_image("KEEP THIS LINE\nDROP THIS ONE: $9.99").copy()
    y0 = 1 + 1 * LINE_H  # second line's glyph band
    band = img[y0 : y0 + GLYPH_H]
    img[y0 : y0 + GLYPH_H] = np.where(
        (np.indices(band.shape).sum(axis=0) % 2) == 0, 255 - band, band
    )
    (tmp_path / "noisy.png").write_bytes(encode_png(img))

    row = extract_binary_text(
        with_format(read_binary_dir(spark, str(tmp_path))),
        ocr_transport=template_ocr_transport,
    ).collect()[0]
    assert row["extraction_method"] == "image_azure_ocr"
    assert row["text"] == "KEEP THIS LINE"  # corrupted line gated out


def test_glyph_ocr_pdf_fallback_threshold_still_respects_text_layer(spark, tmp_path):
    """A PDF with >= 60 chars of real text layer must take the native path
    and never reach the transport, even when one is injected."""
    from restaurant_etl_spark.sources.binary import (
        extract_binary_text,
        read_binary_dir,
        with_format,
    )
    from tests.test_pdf_text import _pdf_bytes

    long_stream = b"BT " + b" ".join(
        b"(Dish number %d costs $%d.00) Tj 0 -14 Td" % (i, i) for i in range(10)
    ) + b" ET"
    (tmp_path / "textlayer.pdf").write_bytes(_pdf_bytes(long_stream, compress=True))

    def exploding_transport(content):
        raise AssertionError("native-text PDFs must not reach OCR")

    row = extract_binary_text(
        with_format(read_binary_dir(spark, str(tmp_path))),
        ocr_transport=exploding_transport,
    ).collect()[0]
    assert row["extraction_method"] == "pdf_native_text" and row["success"]


def test_scanned_pdf_declares_correct_stream_length():
    """The /Length of every stream must match its actual byte count — a
    conforming parser seeks by /Length and would read past the stream."""
    import re

    import numpy as np

    from restaurant_etl_spark.sources.glyph_ocr import make_scanned_pdf

    pdf = make_scanned_pdf(np.full((10, 10), 200, dtype=np.uint8))
    for m in re.finditer(rb"/Length (\d+) >>\s*stream\r?\n", pdf):
        declared = int(m.group(1))
        start = m.end()
        end = pdf.index(b"endstream", start)
        actual = len(pdf[start:end].rstrip(b"\r\n"))
        assert declared == actual, (declared, actual)


def test_scanned_pdf_whose_flate_stream_ends_in_cr():
    """A compressed image that ends in 0x0D must not lose that byte to the
    end-of-line before ``endstream``: the stream is taken by its /Length,
    and without one the EOL bytes are left over after the Flate data."""
    import re
    import zlib

    from restaurant_etl_spark.sources.glyph_ocr import (
        make_scanned_pdf,
        render_text_image,
        template_ocr_transport,
    )

    text = "ITEM 1004 $1.25 X X X X"
    px = render_text_image(text)
    assert zlib.compress(px.tobytes())[-1] == 0x0D
    pdf = make_scanned_pdf(px)
    no_length = re.sub(rb"(/FlateDecode) /Length \d+", rb"\1", pdf)
    crlf = no_length.replace(b"\nendstream", b"\r\nendstream")
    indirect = re.sub(rb"(/FlateDecode /Length) \d+", rb"\1 9 0 R", pdf)
    assert no_length.count(b"/Length") == pdf.count(b"/Length") - 1
    assert b"/Length 9 0 R" in indirect
    for blob in (pdf, no_length, crlf, indirect):
        lines = template_ocr_transport(blob)["analyzeResult"]["pages"][0]["lines"]
        assert [ln["content"] for ln in lines] == [text]
