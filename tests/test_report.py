"""Cross-model report composition (result_comparer.py:105-128 semantics)."""

import struct
import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from bioie_llm_spark.report import (
    confusion_png,
    confusion_pivot,
    model_comparison,
    png_encode,
    render_confusion,
)

# three models over four srcs, gold = a,a,b,b
M1 = [("s1", "a", "a"), ("s2", "a", "a"), ("s3", "b", "b"), ("s4", "a", "b")]
M2 = [("s1", "a", "a"), ("s2", "b", "a"), ("s3", "b", "b"), ("s4", "a", "b")]
M3 = [("s1", "a", "a"), ("s2", "a", "a"), ("s3", "a", "b"), ("s4", "a", "b")]


def _frames(spark):
    mk = lambda rows: spark.createDataFrame(rows, "src string, pred string, true string")
    return {"m1": mk(M1), "m2": mk(M2), "m3": mk(M3)}


def _png_decode(blob: bytes) -> tuple[int, int, bytes]:
    """Minimal decoder for the PNGs ``png_encode`` writes: checks the
    signature, every chunk's CRC and an 8-bit RGB IHDR, inflates the IDAT
    stream and requires filter byte 0 on every row."""
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    pos, chunks = 8, []
    while pos < len(blob):
        (n,) = struct.unpack(">I", blob[pos : pos + 4])
        tag, data = blob[pos + 4 : pos + 8], blob[pos + 8 : pos + 8 + n]
        (crc,) = struct.unpack(">I", blob[pos + 8 + n : pos + 12 + n])
        assert crc == zlib.crc32(tag + data) & 0xFFFFFFFF, tag
        chunks.append((tag, data))
        pos += 12 + n
    assert chunks[0][0] == b"IHDR" and chunks[-1] == (b"IEND", b"")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", chunks[0][1])
    assert (depth, color, comp, filt, interlace) == (8, 2, 0, 0, 0)
    raw = zlib.decompress(b"".join(d for t, d in chunks if t == b"IDAT"))
    stride = 1 + w * 3
    assert len(raw) == h * stride
    assert all(raw[y * stride] == 0 for y in range(h))
    return w, h, b"".join(raw[y * stride + 1 : (y + 1) * stride] for y in range(h))


def test_model_comparison(spark):
    rep = {r["model"]: r for r in model_comparison(_frames(spark)).collect()}
    assert set(rep) == {"m1", "m2", "m3"}
    # per-model accuracy: m1 3/4, m2 2/4, m3 2/4
    assert rep["m1"]["accuracy"] == 0.75
    assert rep["m2"]["accuracy"] == 0.5
    assert rep["m3"]["accuracy"] == 0.5
    # s1 right by all three -> intersection 1 (s2: m2 wrong; s3: m3 wrong)
    assert rep["m1"]["n_correct_all"] == 1
    # s2 right by m1+m3 (not unique); s3 right by m1+m2; no unique-correct srcs
    assert all(rep[m]["n_correct_unique"] == 0 for m in rep)
    # consensus: s1 (all 'a', right) and s4 (all 'a', wrong) agree -> 1 correct
    assert rep["m1"]["n_consensus_correct"] == 1


def test_model_comparison_unique(spark):
    frames = _frames(spark)
    # make m1 uniquely right on s4
    rows = [("s1", "a", "a"), ("s2", "a", "a"), ("s3", "b", "b"), ("s4", "b", "b")]
    frames["m1"] = frames["m1"].sparkSession.createDataFrame(
        rows, "src string, pred string, true string"
    )
    rep = {r["model"]: r for r in model_comparison(frames).collect()}
    assert rep["m1"]["n_correct_unique"] == 1


def test_confusion_pivot_and_render(spark):
    df = spark.createDataFrame(M1, "src string, pred string, true string")
    wide = {r["true_label"]: r for r in confusion_pivot(df).collect()}
    assert wide["a"]["a"] == 2 and wide["a"]["b"] == 0
    assert wide["b"]["a"] == 1 and wide["b"]["b"] == 1
    text = render_confusion(df)
    assert "true_label" in text.splitlines()[0]
    assert len(text.splitlines()) == 3


def test_confusion_png(spark, tmp_path):
    """The stdlib PNG artifact (evaluator.py:135-159 analog): structurally
    valid PNG, correct dimensions, and the cell raster decodes to the
    viridis extremes for the max-count and zero-count cells."""
    df = spark.createDataFrame(M1, "src string, pred string, true string")
    path = str(tmp_path / "cm.png")
    vocab = confusion_png(df, path, labels=["A", "B", "zzz"])
    assert vocab == ["a", "b"]  # lowercased; 'zzz' absent from the data
    w, h, rgb = _png_decode(open(path, "rb").read())
    cell, margin = 48, 24
    assert (w, h) == (margin + 2 * cell, margin + 2 * cell)

    # spot-check cell-center colors
    def px(x, y):
        base = (y * w + x) * 3
        return tuple(rgb[base : base + 3])

    # (true=a, pred=a) holds the max count 2 -> viridis(1.0) = bright yellow
    cx, cy = margin + cell // 4, margin + cell // 4
    assert px(cx, cy) == (253, 231, 37)
    # (true=a, pred=b) is 0 -> viridis(0.0) = dark purple
    assert px(margin + cell + cell // 4, cy) == (68, 1, 84)
    # legend sidecar maps indices to labels
    legend = open(path + ".labels.txt").read().splitlines()
    assert legend == ["idx\tlabel", "0\ta", "1\tb"]


def test_confusion_png_null_and_discovered(spark, tmp_path):
    """Discovered-label mode: nulls coalesce to 'none' and join the vocab."""
    rows = [("s1", "a", "a"), ("s2", None, "a")]
    df = spark.createDataFrame(rows, "src string, pred string, true string")
    path = str(tmp_path / "cm2.png")
    vocab = confusion_png(df, path)
    assert vocab == ["a", "none"]


def test_cross_family_task_report(spark, tiny_spec):
    """result_comparer flow end-to-end on REAL task outputs: the same
    triple table scored under two prompt families, composed into the
    per-model comparison report."""
    from pyspark.sql import functions as F

    from bioie_llm_spark.pipeline import build_triples, entity_task

    stages = build_triples(spark, tiny_spec)
    results = {}
    for fam in ("galactica", "mpt"):
        pairs = entity_task(
            stages["triples"], stages["facts"], n_queries=10, model=fam
        )["pairs"]
        results[fam] = pairs.select(
            F.concat_ws("#", "src", "pos").alias("src"), "pred", "true"
        )
    rep = {r["model"]: r for r in model_comparison(results).collect()}
    assert set(rep) == {"galactica", "mpt"}
    # the mock model's knowledge is family-independent: identical scores,
    # full intersection, no unique-correct answers
    assert rep["galactica"]["accuracy"] == rep["mpt"]["accuracy"]
    assert rep["galactica"]["n_correct_unique"] == 0
    assert rep["galactica"]["n_correct_all"] == rep["galactica"]["n_consensus_correct"]


@settings(max_examples=150, deadline=None)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    pixels=st.binary(min_size=12 * 12 * 3, max_size=12 * 12 * 3),
)
def test_png_roundtrip_property(w, h, pixels):
    """``png_encode`` round-trips any (w, h, rgb) through an independent
    decoder, at the default and the stored (level 0) deflate levels."""
    rgb = pixels[: w * h * 3]
    assert _png_decode(png_encode(w, h, rgb)) == (w, h, rgb)
    assert _png_decode(png_encode(w, h, rgb, level=0)) == (w, h, rgb)
