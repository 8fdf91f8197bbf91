"""Vendored baseline JPEG codec (operators/jpeg.py) and its seat in the
multimodal codec seam.  Round-trips go encoder -> decoder, which also
exercises DHT/DQT/SOF/SOS parsing, 4:2:0 upsampling, restart markers,
and the grayscale path; failure modes are pinned loud."""

from __future__ import annotations

import numpy as np
import pytest

from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
    jpeg as jp,
)
from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
    multimodal as mm,
)


def _gradient(w: int, h: int) -> np.ndarray:
    x = np.linspace(0, 255, w)[None, :].repeat(h, 0)
    y = np.linspace(0, 255, h)[:, None].repeat(w, 1)
    return np.stack([x, y, (x + y) / 2], axis=2).astype(np.uint8)


def _roundtrip(img: np.ndarray, **kw) -> tuple[np.ndarray, bytes]:
    h, w = img.shape[:2]
    enc = jp.encode_jpeg(w, h, img.tobytes(), **kw)
    assert jp.is_jpeg(enc)
    dw, dh, out = jp.decode_jpeg(enc)
    assert (dw, dh) == (w, h)
    return (
        np.frombuffer(out, dtype=np.uint8).reshape(h, w, 3).astype(int),
        enc,
    )


def test_roundtrip_444_quality100_is_near_lossless():
    """Quality 100 degenerates the Annex-K tables to all-ones, so the
    only loss is DCT float rounding: within 1 count per channel, on a
    size that is NOT a multiple of 8 (edge-padding path)."""
    img = _gradient(21, 13)
    got, _ = _roundtrip(img, quality=100)
    assert np.abs(got - img.astype(int)).max() <= 1


def test_roundtrip_420_subsampling_and_restart_markers():
    img = _gradient(21, 13)
    got, enc = _roundtrip(img, quality=100, subsample=True)
    # chroma is box-averaged then replicated: smooth gradients stay
    # within a small band; luma is untouched by subsampling
    assert np.abs(got - img.astype(int)).max() <= 16
    # restart markers: same pixels, RSTn framing exercised (4:2:0 MCUs
    # are 16x16, so 21x13 has two MCUs: interval 1 puts RST0 between)
    got_rst, enc_rst = _roundtrip(
        img, quality=100, subsample=True, restart_interval=1
    )
    assert (got_rst == got).all()
    assert b"\xff\xd0" in enc_rst and b"\xff\xd0" not in enc
    # a corrupted restart sequence fails loudly
    bad = bytearray(enc_rst)
    i = bad.find(b"\xff\xd0")
    bad[i + 1] = 0xD5  # wrong RST index
    with pytest.raises(ValueError, match="RST"):
        jp.decode_jpeg(bytes(bad))


def test_roundtrip_grayscale_replicates_channels():
    w, h = 19, 11
    x = np.linspace(0, 255, w)[None, :].repeat(h, 0)
    img = np.stack([x, x, x], axis=2).astype(np.uint8)
    enc = jp.encode_jpeg(w, h, img.tobytes(), quality=100, grayscale=True)
    dw, dh, out = jp.decode_jpeg(enc)
    got = np.frombuffer(out, dtype=np.uint8).reshape(h, w, 3)
    assert (dw, dh) == (w, h)
    assert (got == img).all()
    assert (got[:, :, 0] == got[:, :, 1]).all()


def test_unsupported_modes_fail_loudly():
    img = _gradient(16, 16)
    enc = bytearray(jp.encode_jpeg(16, 16, img.tobytes()))
    i = enc.find(b"\xff\xc0")
    for sof, frag in ((0xC2, "SOF2"), (0xC1, "SOF1"), (0xC9, "SOF9")):
        bad = bytearray(enc)
        bad[i + 1] = sof
        with pytest.raises(NotImplementedError, match=frag):
            jp.decode_jpeg(bytes(bad))
    with pytest.raises(ValueError, match="signature"):
        jp.decode_jpeg(b"\x89PNG")
    with pytest.raises(ValueError):
        jp.decode_jpeg(bytes(enc[:40]))  # truncated mid-segment
    with pytest.raises(ValueError, match="quality"):
        jp.encode_jpeg(16, 16, img.tobytes(), quality=0)


def test_decode_is_deterministic_and_dimension_exact():
    """Same bytes -> same pixels (the checksum contract), across odd
    dimensions that stress MCU cropping in both axes."""
    for w, h, sub in ((8, 8, False), (9, 17, False), (10, 6, True)):
        img = _gradient(w, h)
        a, enc = _roundtrip(img, quality=90, subsample=sub)
        dw, dh, out2 = jp.decode_jpeg(enc)
        b = np.frombuffer(out2, dtype=np.uint8).reshape(h, w, 3)
        assert (a == b).all()


def test_codec_seam_dispatches_jpeg():
    """multimodal.decode_image(fake=False) now accepts baseline JPEG:
    real dimensions come back and the checksum differs from the fake
    stub's (which gates keep pinning)."""
    img = _gradient(12, 7)
    enc = jp.encode_jpeg(12, 7, img.tobytes(), quality=95)
    out = mm.decode_image(enc, fake=False)
    assert (out["width"], out["height"], out["channels"]) == (12, 7, 3)
    assert out != mm.decode_image(enc, fake=True)
    # and resize_images' shared seam decodes it too
    w, h, rgb = mm._decode_rgb(enc)
    assert (w, h, len(rgb)) == (12, 7, 12 * 7 * 3)
    assert (w, h, rgb) == jp.decode_jpeg(enc)  # the vendored decoder
    # undecodable format still loud
    with pytest.raises(NotImplementedError, match="baseline JPEG"):
        mm.decode_image(b"GIF89a...", fake=False)
