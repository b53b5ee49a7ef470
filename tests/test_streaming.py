"""Structured Streaming: watermarked window aggregation and exact dedup
with cross-drain state, each against its batch twin."""

from pyspark.sql import functions as F

from bioie_llm_spark.streaming.incremental import (
    run_windowed_events_stream,
    windowed_event_counts,
)


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events_dir = str(tmp_path / "events")  # file stream source needs a dir
    events.write.mode("overwrite").parquet(events_dir)
    out_dir = str(tmp_path / "win")
    ckpt = str(tmp_path / "wckpt")
    run_windowed_events_stream(spark, events_dir, out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    expect = windowed_event_counts(events)
    # append-mode emits only watermark-closed windows: got ⊆ expect, and the
    # overlap must agree exactly
    joined = got.join(
        expect.withColumnRenamed("n", "n_b").withColumnRenamed("total_value", "tv_b"),
        ["win_start", "win_end", "event_type"],
        "inner",
    )
    assert joined.count() == got.count() > 0
    assert joined.filter((F.col("n") != F.col("n_b")) | (F.col("total_value") != F.col("tv_b"))).count() == 0


def test_stream_dedup_docs(spark, tmp_path):
    """Streaming exact dedup holds its seen-content state across separate
    drains: batch 2 re-delivering batch 1's content emits nothing new."""
    from bioie_llm_spark.streaming.incremental import stream_dedup_docs

    docs_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    b1 = [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "unique one")]
    spark.createDataFrame(b1, "doc_id long, text string").write.mode(
        "append"
    ).parquet(docs_dir)
    stream_dedup_docs(spark, docs_dir, out_dir, ckpt)
    first = spark.read.parquet(out_dir)
    assert first.count() == 2  # one per distinct content

    # batch 2: one known content (dup of doc 1), one new
    b2 = [(4, "ALPHA beta gamma!"), (5, "brand new content")]
    spark.createDataFrame(b2, "doc_id long, text string").write.mode(
        "append"
    ).parquet(docs_dir)
    stream_dedup_docs(spark, docs_dir, out_dir, ckpt)
    out = spark.read.parquet(out_dir)
    assert out.count() == 3
    keys = [r["content_key"] for r in out.select("content_key").collect()]
    assert len(set(keys)) == 3  # no duplicate content ever emitted
