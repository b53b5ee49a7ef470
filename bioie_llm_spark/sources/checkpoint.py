"""Checkpoint-resume staging + per-partition lineage (north_rule).

The reference's resume story is file-level memoization: convert-once guards
(string_reader.py:69-73, S11) and pickle caches keyed by shot count
(string_processor.py:233-242, S9). The engine generalizes both into
snapshot-keyed Parquet stage materialization:

- ``materialize(df, root, stage, snapshot)`` writes
  ``{root}/{stage}/snapshot={snapshot}`` exactly once; a restart that finds
  the stage's ``_SUCCESS`` marker reads it back instead of recomputing —
  checkpoint-resume per snapshot, stage-granular.
- every materialization also appends per-partition lineage rows
  (snapshot, stage, partition_id, n_rows, content_hash) under
  ``{root}/_lineage`` — the audit trail that lets an operator prove which
  partitions of which snapshot produced which triples.

The content hash is ``bit_xor(xxhash64(all columns))`` — order-insensitive,
so it is stable no matter how rows land in partitions, and cheap (one
map-side aggregate over data that is already being written).

Every parquet file of this layer (stage data, lineage, the key log, and the
bucketed copy written by ``operators.bucketing.write_bucketed``) is
compressed with ``CODEC`` (zstd). Stage files are dominated by
``source_sha256`` dictionaries — hex digests, 4 bits of entropy per byte —
which snappy cannot shrink because it has no entropy coder; zstd does
(``build_triples`` at sf0.005, ``pred=interacts_with``: the sha chunk is
80 KB raw, 80 KB under snappy and 47 KB under zstd; the file 97 -> 61 KB).
The codec is set per write, not session-wide: the small outputs callers
write themselves are a few KB of tiny pages where zstd's frame overhead
outweighs its gain, so they keep the session default (snappy). Parquet
records the codec per column chunk, so a store written under snappy stays
readable and resumable and may mix both codecs.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# parquet codec of every checkpoint-layer write (see module docstring)
CODEC = "zstd"

LINEAGE_SCHEMA = (
    "snapshot string, stage string, partition_id int, n_rows long, content_hash long"
)


def stage_path(root: str, stage: str, snapshot: str) -> str:
    return os.path.join(root, stage, f"snapshot={snapshot}")


def is_materialized(root: str, stage: str, snapshot: str) -> bool:
    return os.path.exists(os.path.join(stage_path(root, stage, snapshot), "_SUCCESS"))


def lineage_of(df: DataFrame, stage: str, snapshot: str) -> DataFrame:
    cols = [F.col(c).cast("string") for c in df.columns]
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.bit_xor(F.xxhash64(*cols)).alias("content_hash"),
        )
        .select(
            F.lit(snapshot).alias("snapshot"),
            F.lit(stage).alias("stage"),
            "partition_id",
            "n_rows",
            "content_hash",
        )
    )


def lineage_path(root: str, stage: str, snapshot: str) -> str:
    return os.path.join(root, "_lineage", f"stage={stage}", f"snapshot={snapshot}")


def _write_atomic(df: DataFrame, path: str, partition_by: list[str] | None) -> None:
    """Write a stage directory atomically: write to a scratch sibling, then
    one ``os.rename`` into place. Two processes racing to materialize the
    same stage can never expose a half-written directory to each other —
    the loser's rename fails and its scratch copy is discarded (the
    winner's copy is complete by construction; rename is atomic on POSIX).
    A _SUCCESS-less corpse from a pre-atomic crash is cleared first."""
    if os.path.exists(path) and not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.__tmp-{uuid.uuid4().hex[:12]}"
    writer = df.write.mode("overwrite").option("compression", CODEC)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # lost the race — winner is complete


def materialize(
    df: DataFrame,
    root: str,
    stage: str,
    snapshot: str,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Write-once stage checkpoint; returns the (re)read DataFrame so
    downstream stages consume the materialized copy (cuts lineage and makes
    restarts O(remaining stages)).

    Both the stage data and its lineage are written atomically (scratch dir
    + rename — see _write_atomic), so concurrent builders of the same stage
    root are safe: one wins the rename, the other reads the winner's
    complete copy.

    Lineage lives under ``_lineage/stage=X/snapshot=Y`` (stage/snapshot as
    partition directories, restored by partition discovery on read) and is
    written idempotently AND independently of the data write: a crash
    between the stage write and the lineage write self-heals on the next
    call — the lineage is recomputed from the already-materialized parquet
    instead of being lost forever behind the _SUCCESS guard."""
    path = stage_path(root, stage, snapshot)
    if not is_materialized(root, stage, snapshot):
        _write_atomic(df, path, partition_by)
    # one read (one schema-inference job) serves the lineage and the caller
    out = df.sparkSession.read.parquet(path)
    lin = lineage_path(root, stage, snapshot)
    if not os.path.exists(os.path.join(lin, "_SUCCESS")):
        _write_atomic(
            lineage_of(out, stage, snapshot).drop("stage", "snapshot"), lin, None
        )
    return out


def read_lineage(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, "_lineage")).select(
        "snapshot", "stage", "partition_id", "n_rows", "content_hash"
    )


def resume_by_key(
    inputs: DataFrame,
    root: str,
    stage: str,
    snapshot: str,
    key_cols: list[str],
    compute,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Key-granular checkpoint-resume (SURVEY.md §7 step 7: 'skip
    partitions whose lineage row exists'): process only input rows whose
    key is NOT in the stage's completed-key log, append results + the new
    keys, return the full stage output.

    - ``compute(todo_inputs) -> DataFrame`` runs the stage on the pending
      subset only; an interrupted run resumes at file/key granularity, not
      stage granularity (the batch twin of the streaming source's
      exactly-once file tracking).
    - completed keys live in ``{root}/{stage}__keys/snapshot=...`` —
      appended AFTER the output append commits, so a crash between the two
      reprocesses a key (at-least-once) and the downstream dedup agg
      absorbs the duplicates (idempotent triples).
    """
    spark = inputs.sparkSession
    out_path = stage_path(root, stage, snapshot)
    keys_path = stage_path(root, stage + "__keys", snapshot)
    if os.path.exists(keys_path):
        done = spark.read.parquet(keys_path)
        todo = inputs.join(done, key_cols, "left_anti")
    else:
        todo = inputs
    n_todo = todo.count()
    if n_todo > 0:
        before = _data_files(out_path)
        result = compute(todo)
        writer = result.write.mode("append").option("compression", CODEC)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out_path)
        # lineage over THIS attempt's delta only (the files the append just
        # created) — recomputing it over the full output would re-log every
        # prior attempt's rows, double-counting n_rows on resumed runs
        delta = [f for f in _data_files(out_path) if f not in before]
        if delta:
            # basePath restores Hive-partition columns (they live in the
            # directory names, not the leaf files) so the delta's lineage
            # hash covers the same column set as materialize's would
            delta_df = spark.read.option("basePath", out_path).parquet(*delta)
            lineage_of(delta_df, stage, snapshot).drop(
                "stage", "snapshot"
            ).write.mode("append").option("compression", CODEC).parquet(
                lineage_path(root, stage, snapshot)
            )
        todo.select(key_cols).distinct().write.mode("append").option(
            "compression", CODEC
        ).parquet(keys_path)
    return spark.read.parquet(out_path)


def _data_files(path: str) -> set[str]:
    """All parquet data files under a stage output path (any partition depth)."""
    out: set[str] = set()
    for dirpath, _dirs, files in os.walk(path):
        out.update(
            os.path.join(dirpath, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return out
