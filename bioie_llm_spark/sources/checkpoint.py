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
- ``resume_by_key`` appends to one cumulative store at key granularity, and
  ``delta_snapshot`` keeps a per-snapshot aggregate over that store as a
  chain of deltas: each snapshot writes only the partial aggregate of the
  store files no earlier snapshot consumed, and its read merges the chain.

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
from pyspark.sql.types import StringType, StructField, StructType

# parquet codec of every checkpoint-layer write (see module docstring)
CODEC = "zstd"

# infix of write_once's scratch sibling directories
_TMP = ".__tmp-"

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


def write_once(path: str, build) -> str:
    """The one write-once protocol of the engine, for stage checkpoints and
    scratch artifacts alike: unless ``path/_SUCCESS`` exists, run
    ``build(scratch)`` into a scratch sibling, stamp the marker, and
    ``os.rename`` the sibling into place. Readers see a complete directory
    or none: a build that raises removes its sibling, and of two processes
    racing on one path the loser's rename fails and its copy is discarded
    (rename is atomic on POSIX; the winner's copy is complete). A
    marker-less directory left by a crash from before this protocol is
    cleared first. Returns ``path``."""
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return path
    if os.path.exists(path):
        shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}{_TMP}{uuid.uuid4().hex[:12]}"
    try:
        build(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "a").close()
        os.rename(tmp, path)
    except OSError:
        if not os.path.exists(marker):  # not a lost race
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _write_stage(df: DataFrame, path: str, partition_by: list[str] | None) -> None:
    """``write_once`` of one checkpoint-layer parquet directory."""

    def build(tmp: str) -> None:
        writer = df.write.option("compression", CODEC)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)

    write_once(path, build)


def _stored_schema(df: DataFrame, partition_by: list[str] | None) -> StructType:
    """The schema ``df`` reads back with after a write partitioned by
    ``partition_by``: the partition columns move to the end."""
    parts = partition_by or []
    return StructType(
        [f for f in df.schema if f.name not in parts] + [df.schema[c] for c in parts]
    )


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
    + rename — see write_once), so concurrent builders of the same stage
    root are safe: one wins the rename, the other reads the winner's
    complete copy.

    Lineage lives under ``_lineage/stage=X/snapshot=Y`` (stage/snapshot as
    partition directories, restored by partition discovery on read) and is
    written idempotently AND independently of the data write: a crash
    between the stage write and the lineage write self-heals on the next
    call — the lineage is recomputed from the already-materialized parquet
    instead of being lost forever behind the _SUCCESS guard."""
    path = stage_path(root, stage, snapshot)
    _write_stage(df, path, partition_by)
    # one read (one schema-inference job) serves the lineage and the caller
    reader = df.sparkSession.read
    if not _data_files(path):
        # a partitioned write of an empty frame leaves no file to infer from
        reader = reader.schema(_stored_schema(df, partition_by))
    out = reader.parquet(path)
    _write_stage(
        lineage_of(out, stage, snapshot).drop("stage", "snapshot"),
        lineage_path(root, stage, snapshot),
        None,
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
      reprocesses a key (at-least-once): the replayed key's rows land in
      the output twice. A downstream dedup keeps the same triple set and
      ``min(source_sha256)``, but ``count(*)`` (``n_sources``) counts the
      replayed rows again.
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


def _committed_snapshots(root: str, stage: str) -> list[str]:
    """The snapshots of a stage whose write committed: their directory has
    ``_SUCCESS`` and is not the scratch sibling of an unfinished
    ``write_once``."""
    d = os.path.join(root, stage)
    if not os.path.isdir(d):
        return []
    return sorted(
        n[len("snapshot="):]
        for n in os.listdir(d)
        if n.startswith("snapshot=")
        and _TMP not in n
        and os.path.exists(os.path.join(d, n, "_SUCCESS"))
    )


def _chain_record(root: str, stage: str, snapshot: str) -> tuple[list[str], list[str]]:
    # a few hundred bytes: read on the driver, no Spark job
    import pyarrow.parquet as pq

    row = pq.read_table(stage_path(root, stage + "__chain", snapshot)).to_pylist()[0]
    return row["consumed"], row["chain"]


def delta_snapshot(
    store: DataFrame,
    store_path: str,
    root: str,
    stage: str,
    snapshot: str,
    partial,
    merge,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Snapshot ``snapshot`` of an aggregate over an append-only store
    (a ``resume_by_key`` output read as ``store`` from ``store_path``),
    kept as a chain of deltas that share storage.

    - ``{root}/{stage}/snapshot=X`` holds ``partial(rows)`` (materialized)
      over only the store files that no earlier snapshot consumed. Store
      files are append-only, so "consumed" is well defined.
    - ``{root}/{stage}__chain/snapshot=X`` records, write-once and BEFORE
      the delta, the store files X consumed and the earlier snapshots whose
      deltas make up X's chain (every snapshot recorded before X).
    - X's table is ``merge(deltas)`` over the deltas of its chain and its
      own, or its own delta alone when the chain is empty. ``partial`` must
      therefore be a mergeable aggregate (count -> sum, min -> min) and
      ``merge`` must keep the delta's columns and their order.

    Re-calling X after later snapshots returns X's rows unchanged: its
    record is fixed. A crash between the store append and the record leaves
    the appended files unconsumed, so the next snapshot takes them; a crash
    between the record and the delta rebuilds the delta from the recorded
    files, which never change. A store with no records counts every file as
    unconsumed, and a stage written with no record is a whole table from
    before chains, returned as it is."""
    spark = store.sparkSession
    records = {
        s: _chain_record(root, stage, s)
        for s in _committed_snapshots(root, stage + "__chain")
    }
    if snapshot not in records:
        if is_materialized(root, stage, snapshot):
            return spark.read.parquet(stage_path(root, stage, snapshot))
        consumed = set().union(*(files for files, _ in records.values()))
        stored = {os.path.relpath(f, store_path) for f in _data_files(store_path)}
        fresh, chain = sorted(stored - consumed), sorted(records)
        record = spark.range(1, numPartitions=1).select(
            F.lit(fresh).cast("array<string>").alias("consumed"),
            F.lit(chain).cast("array<string>").alias("chain"),
        )
        _write_stage(record, stage_path(root, stage + "__chain", snapshot), None)
        records[snapshot] = (fresh, chain)

    def delta(snap: str) -> DataFrame:
        files = [os.path.join(store_path, f) for f in records[snap][0]]
        rows = (
            spark.read.schema(store.schema).option("basePath", store_path).parquet(*files)
            if files
            else store.limit(0)
        )
        return materialize(partial(rows), root, stage, snap, partition_by)

    own = delta(snapshot)
    chain = records[snapshot][1]
    if not chain:
        return own
    for snap in chain:
        if not is_materialized(root, stage, snap):
            delta(snap)
    paths = [stage_path(root, stage, s) for s in (*chain, snapshot)]
    # one scan over all deltas: the snapshot directories are read as
    # partitions of the stage root, with no schema-inference job
    deltas = (
        spark.read.schema(StructType([*own.schema, StructField("snapshot", StringType())]))
        .option("basePath", os.path.join(root, stage))
        .parquet(*paths)
        .drop("snapshot")
    )
    return merge(deltas)


def _data_files(path: str) -> set[str]:
    """All parquet data files under a stage output path (any partition
    depth), except an unfinished write's uncommitted ``_temporary`` files,
    which readers skip too."""
    out: set[str] = set()
    for dirpath, dirs, files in os.walk(path):
        if "_temporary" in dirs:
            dirs.remove("_temporary")
        out.update(
            os.path.join(dirpath, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return out
