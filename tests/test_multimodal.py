"""Multimodal plumbing: schema stability, Arrow batching, stub gating."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_23a91a05i4_spark.catalog import table
from ecommerce_data_pipeline_23a91a05i4_spark.operators import multimodal as mm
from ecommerce_data_pipeline_23a91a05i4_spark.operators import png as pngmod

SF = "/root/testdata/sf0.001"


def _assets(spark):
    docs = table(spark, SF, "documents")
    return mm.documents_as_assets(docs)


def test_assets_schema(spark):
    a = _assets(spark)
    assert [f.name for f in a.schema.fields] == ["asset_id", "modality", "content", "metadata"]
    assert a.schema["content"].dataType.typeName() == "binary"


def test_content_sha_is_stable_dedup_key(spark):
    a = mm.with_content_sha(_assets(spark))
    n = a.count()
    assert a.select("content_sha").distinct().count() == n  # corpus has no binary dups
    twice = mm.with_content_sha(_assets(spark))
    assert a.orderBy("asset_id").select("content_sha").collect() == \
        twice.orderBy("asset_id").select("content_sha").collect()


def test_extract_features_fake_mode(spark):
    feats = mm.extract_features(_assets(spark), fake=True)
    rows = feats.orderBy("asset_id").limit(5).collect()
    assert all(len(r.features) == mm.FEATURE_DIM for r in rows)
    assert all(r.decode_width and 64 <= r.decode_width < 256 for r in rows)
    assert all(r.n_bytes > 0 for r in rows)
    again = mm.extract_features(_assets(spark), fake=True).orderBy("asset_id").limit(5).collect()
    assert rows == again  # deterministic


def test_decode_real_mode_fails_loudly_on_bad_input(spark):
    """fake=False must never silently fall back to stub numbers: a
    format no codec handles raises NotImplementedError, and a PNG with
    a valid signature but corrupt body raises ValueError from the
    vendored decoder."""
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG...")  # bad signature -> no codec
    with pytest.raises(ValueError):
        # valid signature, truncated body
        mm.decode_image(pngmod.PNG_SIGNATURE + b"\x00\x00\x00\x0dIHDR")
    # and the error propagates through the real mapInPandas path
    # (document text bytes are not a decodable image in any codec)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        mm.extract_features(_assets(spark), fake=False).limit(1).collect()


def _solid_png(width=20, height=10, color=(255, 0, 0)):
    rgb = bytes(color) * (width * height)
    return pngmod.encode_png(width, height, rgb), rgb


def test_decode_image_real_codec_contract():
    """fake=False decodes a real PNG through the codec seam (the
    vendored decoder) and returns the SAME contract as the stub
    (width/height/channels/pixel_checksum), with true dimensions and
    the checksum equal to sha256 over the raw RGB bytes."""
    import hashlib

    png, rgb = _solid_png(20, 10, (255, 0, 0))
    out = mm.decode_image(png, fake=False)
    assert set(out) == {"width", "height", "channels", "pixel_checksum"}
    assert (out["width"], out["height"], out["channels"]) == (20, 10, 3)
    assert out["pixel_checksum"] == int.from_bytes(
        hashlib.sha256(rgb).digest()[:8], "big", signed=True
    )
    assert out == mm.decode_image(png, fake=False)
    # and it is NOT the stub's hash-derived pseudo-decode
    assert out != mm.decode_image(png, fake=True)


def _filter_line(ftype, line, prev, bpp):
    """Forward-apply a PNG scanline filter (the encoder side of what the
    vendored decoder must invert)."""
    out = bytearray()
    for i in range(len(line)):
        left = line[i - bpp] if i >= bpp else 0
        up = prev[i]
        ul = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            v = line[i]
        elif ftype == 1:
            v = line[i] - left
        elif ftype == 2:
            v = line[i] - up
        elif ftype == 3:
            v = line[i] - ((left + up) >> 1)
        else:
            v = line[i] - pngmod._paeth(left, up, ul)
        out.append(v & 0xFF)
    return bytes(out)


def test_vendored_png_decodes_all_filters_and_color_types():
    """Round-trip through the encoder, plus hand-built streams covering
    every scanline filter (0-4) and the non-RGB color types (gray,
    gray+alpha, RGBA, palette) with their PIL-compatible RGB mapping
    (alpha discarded, gray replicated, palette mapped)."""
    import struct
    import zlib

    # encoder round-trip on a deterministic gradient
    w, h = 7, 5
    rgb = bytes((x * 37 + y * 11 + c * 5) % 256
                for y in range(h) for x in range(w) for c in range(3))
    assert pngmod.decode_png(pngmod.encode_png(w, h, rgb)) == (w, h, rgb)

    # every filter type over the same 4x3 RGB image
    w, h, bpp = 4, 3, 3
    rgb = bytes((x * 53 + y * 29 + c * 17) % 256
                for y in range(h) for x in range(w) for c in range(3))
    stride = w * bpp
    for ftype in range(5):
        raw = bytearray()
        prev = bytes(stride)
        for y in range(h):
            line = rgb[y * stride:(y + 1) * stride]
            raw.append(ftype)
            raw.extend(_filter_line(ftype, line, prev, bpp))
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        data = (pngmod.PNG_SIGNATURE
                + pngmod._chunk(b"IHDR", ihdr)
                + pngmod._chunk(b"IDAT", zlib.compress(bytes(raw)))
                + pngmod._chunk(b"IEND", b""))
        assert pngmod.decode_png(data) == (w, h, rgb), f"filter {ftype}"

    def build(color_type, channels, pixels, plte=b""):
        stride = 2 * channels
        raw = bytearray()
        for y in range(2):
            raw.append(0)
            raw.extend(pixels[y * stride:(y + 1) * stride])
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, color_type, 0, 0, 0)
        chunks = pngmod._chunk(b"IHDR", ihdr)
        if plte:
            chunks += pngmod._chunk(b"PLTE", plte)
        chunks += pngmod._chunk(b"IDAT", zlib.compress(bytes(raw)))
        chunks += pngmod._chunk(b"IEND", b"")
        return pngmod.PNG_SIGNATURE + chunks

    # grayscale replicates
    gray = bytes([10, 20, 30, 40])
    assert pngmod.decode_png(build(0, 1, gray))[2] == bytes(
        b for v in gray for b in (v, v, v)
    )
    # gray+alpha: alpha discarded
    ga = bytes([10, 255, 20, 0, 30, 128, 40, 7])
    assert pngmod.decode_png(build(4, 2, ga))[2] == bytes(
        b for v in (10, 20, 30, 40) for b in (v, v, v)
    )
    # RGBA: alpha discarded
    rgba = bytes([1, 2, 3, 255, 4, 5, 6, 0, 7, 8, 9, 128, 10, 11, 12, 7])
    assert pngmod.decode_png(build(6, 4, rgba))[2] == bytes(
        [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12]
    )
    # palette maps through PLTE
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    idx = bytes([0, 1, 2, 0])
    assert pngmod.decode_png(build(3, 1, idx, plte))[2] == bytes(
        [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 0, 0]
    )


def test_frame_sampling_plan():
    assert mm.frame_sample_offsets(3500, 1000) == [0, 1000, 2000, 3000]
    assert mm.frame_sample_offsets(0) == []


def test_resize_images_deterministic_and_schema_stable(spark):
    a = _assets(spark).limit(20)
    r1 = mm.resize_images(a, 256, 128).orderBy("asset_id").collect()
    r2 = mm.resize_images(a, 256, 128).orderBy("asset_id").collect()
    assert r1 == r2  # content-hash-derived payloads are run-stable
    expected_len = 32 + (256 * 128 * 3) // 4096
    assert all(r.n_bytes == expected_len == len(r.content) for r in r1)
    assert all((r.width, r.height) == (256, 128) for r in r1)
    # different target size -> different payloads (dims are in the hash)
    other = mm.resize_images(a, 64, 64).orderBy("asset_id").collect()
    assert all(x.content != y.content for x, y in zip(r1, other))


def test_sample_video_frames_matches_offset_plan(spark):
    docs = table(spark, SF, "documents").limit(30)
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("modality"),
        F.col("text").cast("binary").alias("content"),
        F.create_map(
            F.lit("duration_ms"), (F.col("n_chars") * 10).cast("string")
        ).alias("metadata"),
    )
    frames = mm.sample_video_frames(assets, every_ms=2000).collect()
    durations = {r.doc_id: r.n_chars * 10 for r in docs.collect()}
    by_asset: dict[int, list[int]] = {}
    for r in frames:
        by_asset.setdefault(r.asset_id, []).append(r.frame_offset_ms)
        assert r.n_bytes == 32 == len(r.frame)
    for aid, dur in durations.items():
        expect = mm.frame_sample_offsets(dur, 2000)
        assert sorted(by_asset.get(aid, [])) == expect, aid


def test_audio_decode_stub_gating():
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"abc")
    d1, d2 = mm.decode_audio(b"abc", fake=True), mm.decode_audio(b"abc", fake=True)
    assert d1 == d2 and d1["sample_rate"] in (8000, 16000, 44100, 48000)


def test_resize_real_mode_raises_on_undecodable_input(spark):
    # document text bytes are not a PNG; the codec seam fails loudly
    a = _assets(spark).limit(1)
    with pytest.raises(Exception, match="NotImplementedError|codec|identify"):
        mm.resize_images(a, 32, 32, fake=False).collect()


def test_resize_real_kernel_resamples_png(spark):
    """fake=False is a REAL kernel now: decode -> nearest-neighbor ->
    PNG re-encode, end-to-end through mapInPandas.  A solid-color source
    must stay solid at the new dimensions; the output parses as PNG."""
    png, _ = _solid_png(16, 8, (0, 128, 255))
    a = spark.createDataFrame(
        [(1, "image", bytearray(png), {})], schema=mm.MULTIMODAL_SCHEMA
    )
    rows = mm.resize_images(a, 4, 6, fake=False).collect()
    assert len(rows) == 1
    w, h, rgb = pngmod.decode_png(bytes(rows[0].content))
    assert (w, h) == (4, 6) == (rows[0].width, rows[0].height)
    assert rgb == bytes([0, 128, 255]) * (4 * 6)
    assert rows[0].n_bytes == len(rows[0].content)


# ----------------------------------------------- JVM ImageIO fast tier


def _texture_image(w: int = 96, h: int = 64):
    import numpy as np

    rng = np.random.default_rng(20260816)
    x = np.linspace(0, 255, w)[None, :].repeat(h, 0)
    y = np.linspace(0, 255, h)[:, None].repeat(w, 1)
    return np.clip(
        np.stack([x, y, (x + y) / 2], axis=2) + rng.normal(0, 6, (h, w, 3)),
        0,
        255,
    ).astype(np.uint8)


def test_jvm_codec_registers_and_decodes(spark):
    """The compiled-at-first-use JVM tier (operators/jvmcodec — VERDICT
    r10 next #5): registration is idempotent; decode is fully JVM-side;
    NULL/undecodable rows yield NULL columns instead of failing the
    task."""
    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        jvmcodec,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        jpeg as jpegmod,
    )

    assert jvmcodec.ensure_jvm_codec(spark) is True
    assert jvmcodec.ensure_jvm_codec(spark) is True  # idempotent
    img = _texture_image()
    jpg = jpegmod.encode_jpeg(96, 64, img.tobytes(), quality=90)
    df = spark.createDataFrame(
        [(bytearray(jpg), "ok"), (None, "null"), (bytearray(b"junk"), "bad")],
        "content binary, tag string",
    )
    rows = {r.tag: r for r in jvmcodec.decode_images_jvm(df).collect()}
    assert (rows["ok"].width, rows["ok"].height) == (96, 64)
    assert len(rows["ok"].rgb) == 96 * 64 * 3
    assert rows["null"].width is None and rows["null"].rgb is None
    assert rows["bad"].width is None and rows["bad"].rgb is None


def test_jvm_codec_png_parity_exact_and_jpeg_within_tolerance(spark):
    """Cross-tier pixel parity between the vendored codecs and the JVM
    ImageIO tier: PNG decode is lossless, so the JVM tier must match
    the vendored codec byte-for-byte; JPEG pixel values may differ
    only within the small IDCT/upsampling tolerance T.81 permits."""
    import numpy as np

    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        jvmcodec,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        jpeg as jpegmod,
    )

    assert jvmcodec.ensure_jvm_codec(spark) is True
    img = _texture_image()
    jpg = jpegmod.encode_jpeg(96, 64, img.tobytes(), quality=90)
    jpg_sub = jpegmod.encode_jpeg(
        96, 64, img.tobytes(), quality=85, subsample=True
    )
    png = pngmod.encode_png(96, 64, img.tobytes())
    df = spark.createDataFrame(
        [(bytearray(jpg), "j"), (bytearray(jpg_sub), "js"),
         (bytearray(png), "p")],
        "content binary, tag string",
    )
    rows = {r.tag: r for r in jvmcodec.decode_images_jvm(df).collect()}
    # PNG: exact
    pw, ph, prgb = pngmod.decode_png(png)
    assert (rows["p"].width, rows["p"].height) == (pw, ph)
    assert bytes(rows["p"].rgb) == prgb
    # JPEG 4:4:4 and 4:2:0: tolerance-bounded vs the vendored decoder
    for tag, data in (("j", jpg), ("js", jpg_sub)):
        vw, vh, vrgb = jpegmod.decode_jpeg(data)
        assert (rows[tag].width, rows[tag].height) == (vw, vh)
        a = np.frombuffer(bytes(rows[tag].rgb), np.uint8).astype(np.int16)
        b = np.frombuffer(vrgb, np.uint8).astype(np.int16)
        assert np.abs(a - b).max() <= 8
        assert float(np.abs(a - b).mean()) < 1.5


def test_jvm_codec_plan_has_no_python_workers(spark):
    """The decode plan must stay JVM-side end-to-end: no Python/Arrow
    eval nodes anywhere — the property that makes the tier the 100 TB
    media path (pixel bytes never cross a worker boundary)."""
    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        jvmcodec,
    )

    assert jvmcodec.ensure_jvm_codec(spark) is True
    df = spark.createDataFrame([(bytearray(b"x"),)], "content binary")
    plan = (
        jvmcodec.decode_images_jvm(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "ArrowEval" not in plan


def test_avi_roundtrip_and_parser_edges():
    """RIFF/AVI writer+parser (operators/avi.py): frames round-trip
    bit-exactly (odd sizes word-align), timing comes from the avih
    header, 'rec ' sub-lists are walked, and non-AVI blobs raise
    ValueError (the filter-not-fail contract)."""
    import struct

    import pytest

    from ecommerce_data_pipeline_23a91a05i4_spark.operators.avi import (
        _chunk,
        _list,
        build_mjpeg_avi,
        frame_index_at,
        parse_avi,
    )

    frames = [b"\xff\xd8odd", b"\xff\xd8even!", b"\xff\xd8x"]
    avi = build_mjpeg_avi(frames, fps=4, width=8, height=8)
    p = parse_avi(avi)
    assert p["frames"] == frames
    assert p["us_per_frame"] == 250_000
    assert p["n_frames"] == 3 and p["duration_ms"] == 750
    # frame selection: floor(offset/frame_ms), clamped
    assert frame_index_at(0, 250_000, 3) == 0
    assert frame_index_at(249, 250_000, 3) == 0
    assert frame_index_at(250, 250_000, 3) == 1
    assert frame_index_at(10_000, 250_000, 3) == 2
    # 'rec ' interleave wrapping survives
    body_start = avi.index(b"movi") + 4
    movi_end = avi.index(b"idx1")
    inner = avi[body_start:movi_end]
    rec_avi = avi[: avi.index(b"LISTmovi"[0:4], 12)]
    # rebuild: hdrl + movi(rec(frames)) without idx1
    hdr_end = avi.index(b"LIST", 12)
    hdr_end = avi.index(b"movi") - 8
    hdrl = avi[12:hdr_end]
    movi = _list(b"movi", _list(b"rec ", inner))
    rec_avi = _chunk(
        b"RIFF", b"AVI " + hdrl + movi
    )
    assert parse_avi(rec_avi)["frames"] == frames
    for bad in (b"", b"RIFFxxxx", b"RIFF" + struct.pack("<I", 4) + b"WAVE"):
        with pytest.raises(ValueError):
            parse_avi(bad)


def test_sample_video_frames_real_decode_deterministic(spark):
    """The real MJPEG path: synth_mjpeg_assets → container parse →
    vendored JPEG decode.  Decoded RGB is deterministic across runs,
    every sampled frame is w*h*3 bytes, a corrupt asset filters (no
    rows, no failure), and only selected frames are decoded (offsets
    collapsing to one frame share its bytes)."""
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        multimodal as mm,
    )

    plan = spark.range(4).select(
        F.col("id").alias("asset_id"),
        (F.lit(2) + F.col("id") % 3).cast("int").alias("n_frames"),
    )
    assets = mm.synth_mjpeg_assets(plan, fps=5)  # 200 ms/frame
    # inject one corrupt asset
    corrupt = spark.createDataFrame(
        [(99, "video", bytearray(b"not an avi"), {"x": "1"})],
        mm.MULTIMODAL_SCHEMA,
    )
    out = mm.sample_video_frames(
        assets.unionByName(corrupt), every_ms=100, fake=False
    )
    rows = out.orderBy("asset_id", "frame_offset_ms").collect()
    assert rows and all(r.n_bytes == 16 * 16 * 3 for r in rows)
    assert not [r for r in rows if r.asset_id == 99]  # filtered
    # offsets 0 and 100 both land in frame 0 (200 ms frames): same bytes
    a0 = {r.frame_offset_ms: bytes(r.frame)
          for r in rows if r.asset_id == 0}
    assert a0[0] == a0[100]
    assert a0[200] != a0[0]  # next frame differs (gradient shifted)
    rows2 = mm.sample_video_frames(
        assets, every_ms=100, fake=False
    ).orderBy("asset_id", "frame_offset_ms").collect()
    assert [bytes(r.frame) for r in rows if r.asset_id != 99] == [
        bytes(r.frame) for r in rows2
    ]
    # raw mode hands back the exact '00dc' JPEG payloads
    raw = mm.sample_video_frames(
        assets, every_ms=100, fake=False, decode="jpeg"
    ).collect()
    from ecommerce_data_pipeline_23a91a05i4_spark.operators.jpeg import (
        is_jpeg,
    )

    assert raw and all(is_jpeg(bytes(r.frame)) for r in raw)


def test_t102_mjpeg_frames_cross_decoder_parity(spark):
    """Two-implementation backing for the t102 static pin (VERDICT r12
    next #10): t102's oracle is a regression pin of the VENDORED
    decoder's own output, which cannot by itself distinguish a stale
    pin from a decode regression.  This test decodes the SAME
    deterministic MJPEG frames the gate decodes (synth_mjpeg_assets'
    generator, all four n_frames classes) with BOTH the vendored T.81
    decoder and the independent JVM ImageIO tier, and requires
    identical dimensions plus pixel agreement within the small
    IDCT/upsampling tolerance T.81 permits — so a real decode
    regression moves the vendored output away from an independent
    implementation and fails HERE, regardless of the pin."""
    import numpy as np

    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        jvmcodec,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.operators.avi import (
        build_mjpeg_avi,
        parse_avi,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    assert jvmcodec.ensure_jvm_codec(spark) is True
    payloads: list[tuple[bytearray, str]] = []
    vendored: dict[str, bytes] = {}
    for aid in range(8):  # covers n_frames = 2..5 (the gate's 2 + id%4)
        nf = 2 + aid % 4
        frames = [
            encode_jpeg(16, 16, mm.synth_frame_rgb(aid, i, 16, 16))
            for i in range(nf)
        ]
        parsed = parse_avi(build_mjpeg_avi(frames, 5, 16, 16))
        assert parsed["n_frames"] == nf
        for fi, raw in enumerate(parsed["frames"]):
            w, h, rgb = decode_jpeg(raw)
            assert (w, h) == (16, 16)
            tag = f"{aid}_{fi}"
            payloads.append((bytearray(raw), tag))
            vendored[tag] = rgb
    df = spark.createDataFrame(payloads, "content binary, tag string")
    rows = {r.tag: r for r in jvmcodec.decode_images_jvm(df).collect()}
    assert set(rows) == set(vendored)
    for tag, vrgb in vendored.items():
        r = rows[tag]
        assert (r.width, r.height) == (16, 16)
        a = np.frombuffer(bytes(r.rgb), np.uint8).astype(np.int16)
        b = np.frombuffer(vrgb, np.uint8).astype(np.int16)
        assert np.abs(a - b).max() <= 8
        assert float(np.abs(a - b).mean()) < 1.5
