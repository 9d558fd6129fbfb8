"""Baseline JPEG codec (sources/jpeg_codec.py): encoder and decoder built
independently against the spec (encoder declares its own canonical DHT
tables; decoder parses any DHT generically), driven both directly and
through the Spark multimodal operators."""

from __future__ import annotations

import numpy as np
import pytest

from restaurant_etl_spark.sources.jpeg_codec import decode_jpeg, encode_jpeg
from restaurant_etl_spark.sources.media_codecs import sniff


def test_solid_grayscale_roundtrip_exact():
    """Flat blocks have only a DC coefficient; at q=1 it quantizes
    losslessly — the property the multimodal_jpeg_decode oracle rests on."""
    for val in (0, 7, 128, 200, 255):
        px = np.full((20, 30), val, dtype=np.uint8)
        blob = encode_jpeg(px)
        assert sniff(blob) == "jpeg"
        assert np.array_equal(decode_jpeg(blob), px), val


def test_gradient_grayscale_near_lossless_at_q1():
    px = (np.arange(24 * 40) % 251).astype(np.uint8).reshape(24, 40)
    out = decode_jpeg(encode_jpeg(px))
    assert out.shape == px.shape
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 1


def test_rgb_444_roundtrip_tolerance():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (33, 17, 3)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(px))
    assert out.shape == px.shape
    # YCbCr forward/inverse rounding: a few LSBs, never structural error
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 3


def test_quantized_lossy_path():
    """A real quant table (q=8) exercises nonzero AC runs, ZRL, and EOB on
    non-trivial content; error stays bounded by the quantization step."""
    px = ((np.indices((32, 32)).sum(axis=0) * 4) % 256).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(px, quant=8))
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 8


def test_partial_edge_blocks():
    """Dimensions that are not multiples of 8 exercise the edge-replicate
    padding and the decoder's crop."""
    px = np.full((9, 13), 77, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(px)), px)


def test_rejects_progressive_and_garbage():
    px = np.full((8, 8), 10, dtype=np.uint8)
    blob = bytearray(encode_jpeg(px))
    sof_at = blob.find(b"\xff\xc0")
    blob[sof_at + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(blob))
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xffnot a real jpeg")


def test_code_outside_the_huffman_table_raises():
    """The encoder's DC table holds 12 five-bit codes; 0b11111 is none of
    them, so the lookahead finds no entry and the decode must refuse."""
    blob = bytearray(encode_jpeg(np.full((8, 8), 10, dtype=np.uint8)))
    sos = blob.find(b"\xff\xda")
    data_at = sos + 2 + int.from_bytes(blob[sos + 2 : sos + 4], "big")
    blob[data_at] = 0xF8
    with pytest.raises(ValueError, match="invalid Huffman code"):
        decode_jpeg(bytes(blob))


def test_jpeg_features_through_spark(spark):
    """A solid-white JPEG through the feature path lands all histogram
    mass in the last bin — the real Huffman+IDCT decoder fed the
    histogram, not the byte stub (entropy bytes would spread)."""
    from restaurant_etl_spark.sources.multimodal import MEDIA_SCHEMA, extract_features

    white = np.full((8, 8), 255, dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, "image", encode_jpeg(white), (8, 8, None, "jpeg"))], MEDIA_SCHEMA
    )
    feats = extract_features(media).collect()[0]["features"]
    assert feats[-1] == 1.0 and sum(feats[:-1]) == 0.0


def test_jpeg_resize_produces_decodable_thumbnail(spark):
    from restaurant_etl_spark.sources.media_codecs import decode_ppm
    from restaurant_etl_spark.sources.multimodal import MEDIA_SCHEMA, resize_images

    px = np.full((128, 96, 3), (40, 90, 200), dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, "image", encode_jpeg(px), (96, 128, None, "jpeg"))], MEDIA_SCHEMA
    )
    thumb = resize_images(media, max_side=64).collect()[0]
    small = decode_ppm(bytes(thumb["thumb"]))
    assert small.shape == (64, 48, 3)
    assert np.abs(small[0, 0].astype(int) - np.array([40, 90, 200])).max() <= 3


def test_single_component_scan_ignores_sampling_factors():
    """Spec B.2.3: a single-component scan is non-interleaved — one 8x8
    block per MCU even when the component declares 2x2 sampling (common in
    grayscale files converted from 4:2:0). A decoder that honors the
    factors produces scrambled pixels silently."""
    px = (np.arange(16 * 32) % 241).astype(np.uint8).reshape(16, 32)
    blob = bytearray(encode_jpeg(px))
    sof_at = blob.find(b"\xff\xc0")
    # SOF payload: len(2) prec(1) h(2) w(2) ncomp(1) then [id, hv, tq]
    hv_at = sof_at + 2 + 2 + 1 + 2 + 2 + 1 + 1
    assert blob[hv_at] == 0x11
    blob[hv_at] = 0x22  # declare 2x2 sampling on the lone component
    out = decode_jpeg(bytes(blob))
    assert out.shape == px.shape
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 1
