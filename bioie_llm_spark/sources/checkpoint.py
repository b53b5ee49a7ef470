"""Checkpoint-resume staging + per-partition lineage (north_rule).

The reference's resume story is file-level memoization: convert-once guards
(string_reader.py:69-73, S11) and pickle caches keyed by shot count
(string_processor.py:233-242, S9). The engine generalizes both into
snapshot-keyed Parquet stage materialization:

- ``materialize(df, root, stage, snapshot)`` writes
  ``{root}/{stage}/snapshot={snapshot}`` exactly once; a restart that finds
  the stage's ``_SUCCESS`` marker reads it back instead of recomputing —
  checkpoint-resume per snapshot, stage-granular.
- every materialization also writes per-partition lineage rows
  (snapshot, stage, partition_id, n_rows, content_hash) under
  ``{root}/_lineage`` — the audit trail that lets an operator prove which
  partitions of which snapshot produced which triples.
- ``resume_by_key`` grows one cumulative store at key granularity, one
  write-once attempt per call, and ``delta_snapshot`` keeps a per-snapshot
  aggregate over that store as a chain of deltas: each snapshot writes
  only the partial aggregate of the attempts no earlier snapshot consumed,
  and its read merges the chain.

Every write of this layer goes through ``write_once`` (scratch directory,
``_SUCCESS``, atomic rename); nothing is appended in place.

The content hash is ``bit_xor(xxhash64(all columns))`` — order-insensitive,
so it is stable no matter how rows land in partitions, and cheap (one
map-side aggregate over data that is already being written).

Every parquet file of this layer (stage data, lineage, an attempt's keys,
and the bucketed copy written by ``operators.bucketing.write_bucketed``) is
compressed with ``CODEC`` (zstd). Stage files are dominated by
``source_sha256`` dictionaries — hex digests, 4 bits of entropy per byte —
which snappy cannot shrink because it has no entropy coder; zstd does
(``build_triples`` at sf0.005, ``pred=interacts_with``: the sha chunk is
80 KB raw, 80 KB under snappy and 47 KB under zstd; the file 97 -> 61 KB).
The codec is set per write, not session-wide: the small outputs callers
write themselves are a few KB of tiny pages where zstd's frame overhead
outweighs its gain, so they keep the session default (snappy).
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


def _write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    writer = df.write.option("compression", CODEC)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _write_stage(df: DataFrame, path: str, partition_by: list[str] | None) -> None:
    """``write_once`` of one checkpoint-layer parquet directory."""
    write_once(path, lambda tmp: _write_parquet(df, tmp, partition_by))


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
    key no committed attempt holds, commit their results as one new
    attempt, and return the full stage output.

    - ``compute(todo_inputs) -> DataFrame`` runs the stage on the pending
      subset only; an interrupted run resumes at key granularity, not
      stage granularity.
    - an attempt is one ``write_once`` directory
      ``{root}/{stage}/snapshot={snapshot}/{attempt}`` (a fresh uuid)
      holding the output rows and, under ``_keys`` (which parquet readers
      skip), the attempt's distinct keys. One rename publishes both, so a
      key counts as done exactly when its rows are in the output, and a
      crash inside the build leaves only a scratch sibling no reader
      lists: no key is processed twice.
    - the completed keys are the union of the committed attempts'
      ``_keys``, and the output is the union of their rows. Each attempt's
      lineage is written once under
      ``_lineage/stage={stage}/snapshot={snapshot}@{attempt}``; an attempt
      that committed without it gets it on the next call.
    """
    spark = inputs.sparkSession
    store = stage_path(root, stage, snapshot)
    attempts = _committed(store)
    todo = inputs
    if attempts:
        keys = spark.read.schema(inputs.select(key_cols).schema).parquet(
            *(os.path.join(store, a, "_keys") for a in attempts)
        )
        todo = inputs.join(keys, key_cols, "left_anti")
    reader = spark.read
    if todo.count() > 0:
        result = compute(todo)

        def build(tmp: str) -> None:
            _write_parquet(result, tmp, partition_by)
            _write_parquet(todo.select(key_cols).distinct(), os.path.join(tmp, "_keys"))

        attempt = uuid.uuid4().hex[:12]
        write_once(os.path.join(store, attempt), build)
        attempts.append(attempt)
        # every attempt has this schema: no schema-inference job below
        reader = reader.schema(_stored_schema(result, partition_by))
    for a in attempts:
        lineage = lineage_path(root, stage, f"{snapshot}@{a}")
        if not os.path.exists(os.path.join(lineage, "_SUCCESS")):
            rows = reader.parquet(os.path.join(store, a))
            _write_stage(lineage_of(rows, stage, snapshot).drop("stage", "snapshot"), lineage, None)
    return reader.parquet(*(os.path.join(store, a) for a in attempts))


def _committed(path: str) -> list[str]:
    """The subdirectories of ``path`` whose ``write_once`` committed: they
    have ``_SUCCESS`` and are not the scratch sibling of an unfinished
    build."""
    if not os.path.isdir(path):
        return []
    return sorted(
        n
        for n in os.listdir(path)
        if _TMP not in n and os.path.exists(os.path.join(path, n, "_SUCCESS"))
    )


def _chain_record(path: str) -> tuple[list[str], list[str]]:
    # a few hundred bytes: read on the driver, no Spark job
    import pyarrow.parquet as pq

    row = pq.read_table(path).to_pylist()[0]
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
    """Snapshot ``snapshot`` of an aggregate over a growing store (a
    ``resume_by_key`` output read as ``store`` from ``store_path``), kept
    as a chain of deltas that share storage.

    - ``{root}/{stage}/snapshot=X`` holds ``partial(rows)`` (materialized)
      over only the store's committed attempts that no earlier snapshot
      consumed. Attempts are write-once, so "consumed" is well defined.
    - ``{root}/{stage}__chain/snapshot=X`` records, write-once and BEFORE
      the delta, the attempts X consumed and the earlier snapshots whose
      deltas make up X's chain (every snapshot recorded before X).
    - X's table is ``merge(deltas)`` over the deltas of its chain and its
      own, or its own delta alone when the chain is empty. ``partial`` must
      therefore be a mergeable aggregate (count -> sum, min -> min) and
      ``merge`` must keep the delta's columns and their order.

    Re-calling X after later snapshots returns X's rows unchanged: its
    record is fixed. An attempt that committed with no record yet is
    unconsumed, so the next snapshot takes it; a crash between the record
    and the delta rebuilds the delta from the recorded attempts, which
    never change."""
    spark = store.sparkSession
    chains = os.path.join(root, stage + "__chain")
    records = {
        n[len("snapshot="):]: _chain_record(os.path.join(chains, n)) for n in _committed(chains)
    }
    if snapshot not in records:
        consumed = set().union(*(attempts for attempts, _ in records.values()))
        fresh = [a for a in _committed(store_path) if a not in consumed]
        chain = sorted(records)
        record = spark.range(1, numPartitions=1).select(
            F.lit(fresh).cast("array<string>").alias("consumed"),
            F.lit(chain).cast("array<string>").alias("chain"),
        )
        _write_stage(record, stage_path(root, stage + "__chain", snapshot), None)
        records[snapshot] = (fresh, chain)

    def delta(snap: str) -> DataFrame:
        attempts = [os.path.join(store_path, a) for a in records[snap][0]]
        rows = spark.read.schema(store.schema).parquet(*attempts) if attempts else store.limit(0)
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
    """All parquet data files under ``path``, at any depth."""
    return {
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    }
