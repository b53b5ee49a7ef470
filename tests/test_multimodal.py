"""Multimodal plumbing: asset synthesis, feature extraction, frame sampling,
and the pure-stdlib real-decode branches — PPM (VERDICT r3 #6) and PNG
(VERDICT r4 #5)."""

import pytest
from pyspark.sql import functions as F

from bioie_llm_spark.multimodal.binary_ops import (
    FEATURE_DIM,
    _fake_features,
    _image_features,
    _nn_resample,
    _png_parse,
    _ppm_encode,
    _ppm_parse,
    extract_features,
    sample_frames,
    synth_assets,
)

JUNK_LEN = 48  # 3 md5 digests
PPM_LEN = len(b"P6\n8 8\n255\n") + 8 * 8 * 3  # header + RGB bytes


def _is_ppm(payload: bytes) -> bool:
    return bytes(payload).startswith(b"P6")


def _is_png(payload: bytes) -> bool:
    return bytes(payload).startswith(b"\x89PNG\r\n\x1a\n")


def test_synth_assets_shape(spark):
    a = synth_assets(spark, 64)
    assert a.count() == 64
    rows = a.collect()
    for row in rows:
        p = bytes(row["payload"])
        if _is_ppm(p):
            assert len(p) == PPM_LEN
            assert row["kind"] == "image"  # only images carry real image media
        elif _is_png(p):
            assert _png_parse(p)[:2] == (8, 8)
            assert row["kind"] == "image"
        else:
            assert len(p) == JUNK_LEN
    kinds = {r["kind"] for r in rows}
    assert kinds <= {"image", "audio", "video"}
    # all three payload branches must be represented in the standard corpus
    payloads = [bytes(r["payload"]) for r in rows]
    assert any(_is_ppm(p) for p in payloads)
    assert any(_is_png(p) for p in payloads)
    assert any(not (_is_ppm(p) or _is_png(p)) for p in payloads)


def test_extract_features(spark):
    assets = synth_assets(spark, 20)
    feats = {r["asset_id"]: r for r in extract_features(assets).collect()}
    payloads = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    assert len(feats) == 20
    for aid, r in feats.items():
        assert len(r["features"]) == FEATURE_DIM
        assert all(-1.0 <= v <= 1.0 for v in r["features"])
        assert r["n_bytes"] == len(payloads[aid])


def test_extract_features_real_vs_stub_dispatch(spark):
    """PPM payloads get REAL decoded features (= direct _image_features of
    the parsed pixels); junk payloads get the deterministic stub — per row,
    in the same batch."""
    assets = synth_assets(spark, 40)
    payloads = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    feats = {
        r["asset_id"]: list(r["features"]) for r in extract_features(assets).collect()
    }
    n_real = 0
    for aid, p in payloads.items():
        if _is_ppm(p):
            w, h, rgb = _ppm_parse(p)
            expect = _image_features(w, h, rgb, FEATURE_DIM)
            n_real += 1
        elif _is_png(p):
            w, h, rgb = _png_parse(p)
            expect = _image_features(w, h, rgb, FEATURE_DIM)
            n_real += 1
        else:
            expect = _fake_features(p)
        # schema stores float32 — compare to the float64 reference with a
        # float32-precision tolerance
        assert all(
            abs(a - b) < 1e-5 for a, b in zip(feats[aid], expect)
        ), (aid, feats[aid], expect)
    assert n_real > 0


def test_ppm_roundtrip_and_resample():
    rgb = bytes(range(2 * 2 * 3))
    enc = _ppm_encode(2, 2, rgb)
    assert _ppm_parse(enc) == (2, 2, rgb)
    # NN downsample 2x2 -> 1x1 keeps the top-left pixel
    assert _nn_resample(2, 2, rgb, 1, 1) == rgb[:3]
    # NN upsample 1x1 -> 2x2 repeats the pixel
    assert _nn_resample(1, 1, rgb[:3], 2, 2) == rgb[:3] * 4
    for bad in (None, b"", b"JFIF....", b"P6\n8 8\n255\nshort"):
        with pytest.raises(NotImplementedError):
            _ppm_parse(bad)


def test_features_deterministic(spark):
    f1 = {r["asset_id"]: tuple(r["features"]) for r in extract_features(synth_assets(spark, 10)).collect()}
    f2 = {r["asset_id"]: tuple(r["features"]) for r in extract_features(synth_assets(spark, 10).repartition(5)).collect()}
    assert f1 == f2


def test_sample_frames(spark):
    assets = synth_assets(spark, 40)
    frames = sample_frames(assets, every=5)
    vids = assets.filter(F.col("kind") == "video").select(
        "asset_id", F.col("meta.n_frames").alias("n")
    )
    expect = {r["asset_id"]: (r["n"] + 4) // 5 for r in vids.collect()}
    got = {
        r["asset_id"]: r["cnt"]
        for r in frames.groupBy("asset_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == expect
    idxs = [r["frame_idx"] for r in frames.filter(F.col("asset_id") == list(expect)[0]).collect()]
    assert all(i % 5 == 0 for i in idxs)


def test_resize_images(spark):
    from bioie_llm_spark.multimodal.binary_ops import resize_images, synth_assets

    assets = synth_assets(spark, 48)
    orig = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    out = resize_images(assets, width=32, height=16)
    rows = {r["asset_id"]: r for r in out.collect()}
    assert len(rows) == 48
    for aid, r in rows.items():
        if r["kind"] == "image":
            assert r["width"] == 32 and r["height"] == 16
            assert r["meta"]["width"] == 32 and r["meta"]["height"] == 16
            if _is_ppm(orig[aid]):
                # REAL branch: output is a valid P6 at the target size whose
                # pixels are the NN resample of the source pixels
                w, h, rgb = _ppm_parse(bytes(r["payload"]))
                assert (w, h) == (32, 16)
                sw, sh, srgb = _ppm_parse(orig[aid])
                assert rgb == _nn_resample(sw, sh, srgb, 32, 16)
            elif _is_png(orig[aid]):
                # REAL branch, PNG in -> PNG out (format preserved)
                assert _is_png(bytes(r["payload"]))
                w, h, rgb = _png_parse(bytes(r["payload"]))
                assert (w, h) == (32, 16)
                sw, sh, srgb = _png_parse(orig[aid])
                assert rgb == _nn_resample(sw, sh, srgb, 32, 16)
            else:
                # stub branch: byte-per-pixel hash-derived stand-in
                assert len(r["payload"]) == 32 * 16
        else:
            # non-images pass through untouched
            assert bytes(r["payload"]) == orig[aid]
            assert r["meta"]["width"] == r["width"]
    # deterministic at any parallelism
    again = {
        r["asset_id"]: r["payload"]
        for r in resize_images(assets.repartition(7), width=32, height=16).collect()
    }
    assert all(again[k] == v["payload"] for k, v in rows.items())


def test_ppm_roundtrip_property():
    """Hypothesis: encode->parse is the identity for any (w, h, rgb), and
    same-size nearest-neighbor resample is the identity."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        seed=st.integers(0, 2**32 - 1),
    )
    def check(w, h, seed):
        import hashlib

        buf = bytearray()
        i = 0
        while len(buf) < w * h * 3:
            buf.extend(hashlib.md5(f"{seed}|{i}".encode()).digest())
            i += 1
        rgb = bytes(buf[: w * h * 3])
        assert _ppm_parse(_ppm_encode(w, h, rgb)) == (w, h, rgb)
        assert _nn_resample(w, h, rgb, w, h) == rgb
        # any resample output has exactly out_w*out_h*3 bytes drawn from rgb
        out = _nn_resample(w, h, rgb, 3, 5)
        assert len(out) == 3 * 5 * 3

    check()


def _rgb_of(seed: int, n: int) -> bytes:
    import hashlib

    buf = bytearray()
    i = 0
    while len(buf) < n:
        buf.extend(hashlib.md5(f"{seed}|{i}".encode()).digest())
        i += 1
    return bytes(buf[:n])


def test_png_parse_all_filters():
    """The decoder unapplies every PNG scanline filter (0-4): build a
    raster that FORWARD-filters each row with a chosen type, frame it as a
    PNG, and check the decode recovers the original pixels."""
    import struct
    import zlib

    w, h = 5, 5
    rgb = _rgb_of(7, w * h * 3)
    stride = w * 3
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        row = rgb[y * stride : (y + 1) * stride]
        ft = y % 5
        raw.append(ft)
        if ft == 0:
            enc = row
        elif ft == 1:  # Sub
            enc = bytes(
                (row[x] - (row[x - 3] if x >= 3 else 0)) & 0xFF
                for x in range(stride)
            )
        elif ft == 2:  # Up
            enc = bytes((row[x] - prev[x]) & 0xFF for x in range(stride))
        elif ft == 3:  # Average
            enc = bytes(
                (row[x] - ((row[x - 3] if x >= 3 else 0) + prev[x]) // 2) & 0xFF
                for x in range(stride)
            )
        else:  # Paeth
            enc = bytearray()
            for x in range(stride):
                a = row[x - 3] if x >= 3 else 0
                b = prev[x]
                c = prev[x - 3] if x >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else b if pb <= pc else c
                enc.append((row[x] - pr) & 0xFF)
            enc = bytes(enc)
        raw.extend(enc)
        prev = row

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert _png_parse(png) == (w, h, rgb)


def test_png_parse_rejects_unsupported():
    import pytest as _pytest

    from bioie_llm_spark.report import png_encode

    good = png_encode(4, 4, _rgb_of(1, 48))
    for bad in (
        None,
        b"",
        b"\x89PNG\r\n\x1a\n",          # no chunks
        good[:-20],                      # truncated
        good.replace(b"\x08\x02", b"\x08\x06", 1),  # RGBA color type
    ):
        with _pytest.raises(NotImplementedError):
            _png_parse(bad)
