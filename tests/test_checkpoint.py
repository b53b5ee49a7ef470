"""Checkpoint-resume staging + per-partition lineage (north_rule)."""

import os

from pyspark.sql import functions as F

from bioie_llm_spark.pipeline import build_triples
from bioie_llm_spark.sources.checkpoint import (
    is_materialized,
    materialize,
    read_lineage,
    stage_path,
)


def test_materialize_write_once(spark, tmp_path):
    root = str(tmp_path)
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    out1 = materialize(df, root, "stage_a", "snap1")
    assert out1.count() == 100
    assert is_materialized(root, "stage_a", "snap1")
    mtime = os.path.getmtime(os.path.join(stage_path(root, "stage_a", "snap1"), "_SUCCESS"))

    # second call must NOT rewrite (write-once resume semantics)
    out2 = materialize(spark.range(5).selectExpr("id", "id as v"), root, "stage_a", "snap1")
    assert out2.count() == 100  # stale input ignored; stage already done
    assert os.path.getmtime(
        os.path.join(stage_path(root, "stage_a", "snap1"), "_SUCCESS")
    ) == mtime


def test_lineage_self_heals(spark, tmp_path):
    """A crash between the stage write and the lineage write must not lose
    the stage's lineage forever: re-materializing recomputes it from the
    already-written parquet (idempotent per-stage overwrite)."""
    import shutil

    from bioie_llm_spark.sources.checkpoint import lineage_path

    root = str(tmp_path)
    df = spark.range(50).selectExpr("id", "id * 3 as v")
    materialize(df, root, "s", "snap")
    lin_dir = lineage_path(root, "s", "snap")
    shutil.rmtree(lin_dir)  # simulate the crash window
    materialize(df, root, "s", "snap")  # data write skipped, lineage healed
    lin = read_lineage(spark, root).filter("stage = 's'")
    assert sum(r["n_rows"] for r in lin.collect()) == 50
    # and healing is idempotent — no double rows on a third call
    materialize(df, root, "s", "snap")
    assert sum(r["n_rows"] for r in read_lineage(spark, root).filter("stage = 's'").collect()) == 50


def test_lineage_rows(spark, tmp_path):
    root = str(tmp_path)
    df = spark.range(1000).repartition(4)
    materialize(df, root, "stage_b", "snapX")
    lin = read_lineage(spark, root).filter(
        (F.col("stage") == "stage_b") & (F.col("snapshot") == "snapX")
    )
    rows = lin.collect()
    assert sum(r["n_rows"] for r in rows) == 1000
    assert all(r["content_hash"] is not None for r in rows)


def test_snapshot_isolation(spark, tmp_path):
    root = str(tmp_path)
    materialize(spark.range(10), root, "stage_c", "snap1")
    materialize(spark.range(20), root, "stage_c", "snap2")
    assert spark.read.parquet(stage_path(root, "stage_c", "snap1")).count() == 10
    assert spark.read.parquet(stage_path(root, "stage_c", "snap2")).count() == 20


def test_pipeline_checkpointing(spark, tiny_spec, tmp_path):
    root = str(tmp_path / "pipe")
    s1 = build_triples(spark, tiny_spec, out_dir=root, snapshot="s0")
    n1 = s1["triples"].count()
    for stage in ("corpus", "gazetteer", "triples"):
        assert is_materialized(root, stage, "s0"), stage
    # resume: rebuild skips the work and reads identical triples back
    s2 = build_triples(spark, tiny_spec, out_dir=root, snapshot="s0")
    assert s2["triples"].count() == n1
    lin = read_lineage(spark, root)
    assert {r["stage"] for r in lin.select("stage").distinct().collect()} >= {
        "corpus", "gazetteer", "triples",
    }
    # triple table is partitioned by predicate on disk
    parts = os.listdir(stage_path(root, "triples", "s0"))
    assert any(p.startswith("pred=") for p in parts)


def test_resume_by_key(spark, tiny_spec, tmp_path):
    """Key-granular resume: after a partial run, only pending files are
    reprocessed; the final output equals a one-shot run."""
    from bioie_llm_spark.datagen.corpus import build_corpus, build_gazetteer
    from bioie_llm_spark.extraction import extract_triples, link_entities
    from bioie_llm_spark.sources.checkpoint import resume_by_key

    root = str(tmp_path / "rk")
    corpus = build_corpus(spark, tiny_spec).cache()
    gaz = build_gazetteer(spark, tiny_spec)
    compute = lambda df: link_entities(extract_triples(df), gaz)
    calls = []

    def counting_compute(df):
        calls.append(df.count())
        return compute(df)

    # partial run: first 30 files only
    first = corpus.filter(F.col("path") < "src/file_3")
    out1 = resume_by_key(first, root, "extract", "s0", ["path"], counting_compute)
    n1 = out1.count()

    # full run resumes: only the remaining files are computed
    out2 = resume_by_key(corpus, root, "extract", "s0", ["path"], counting_compute)
    n2 = out2.count()
    assert calls[0] == first.count()
    assert calls[1] == corpus.count() - first.count()  # only the delta
    assert n2 > n1

    # re-run with nothing pending: no compute at all
    out3 = resume_by_key(corpus, root, "extract", "s0", ["path"], counting_compute)
    assert len(calls) == 2 and out3.count() == n2

    # equals a one-shot batch run
    assert n2 == compute(corpus).count()


def test_skew_operators(spark):
    from bioie_llm_spark.operators.skew import (
        broadcast_hot_keys,
        salted_collect_set,
        salted_count,
    )

    df = spark.createDataFrame(
        [("hot", f"v{i % 7}") for i in range(900)] + [("cold", "x")] * 9,
        "k string, v string",
    )
    counts = {r["k"]: r["n"] for r in salted_count(df, ["k"]).collect()}
    assert counts == {"hot": 900, "cold": 9}
    sets = {r["k"]: r["v_set"] for r in salted_collect_set(df, ["k"], "v").collect()}
    assert sets["hot"] == sorted({f"v{i}" for i in range(7)})
    assert sets["cold"] == ["x"]
    hot = broadcast_hot_keys(df, ["k"], threshold_frac=0.5).collect()
    assert len(hot) == 1 and hot[0]["k"] == "hot"


def test_incremental_snapshots(spark, tiny_spec, tmp_path):
    """A delta chain of three snapshots (about 1/3, 2/3 and all files):
    only each snapshot's new files run through extraction, each later
    snapshot's stage holds only its delta, and each snapshot's table equals
    a from-scratch build over its corpus, on all five columns. Both crash
    windows lose nothing: store files appended with no delta committed are
    picked up by the next call, and a chain record whose delta never
    committed has its delta rebuilt."""
    import shutil

    from bioie_llm_spark.datagen.corpus import build_corpus, build_gazetteer
    from bioie_llm_spark.extraction import extract_triples, link_entities
    from bioie_llm_spark.pipeline import incremental_triples
    from bioie_llm_spark.sources.checkpoint import resume_by_key

    root = str(tmp_path / "incr")
    corpus = build_corpus(spark, tiny_spec).cache()
    gaz = build_gazetteer(spark, tiny_spec)
    snaps = {
        "snap-a": corpus.filter(F.col("path") < "src/file_3"),
        "snap-b": corpus.filter(F.col("path") < "src/file_5"),
        "snap-c": corpus,
    }
    cols = ["subj", "obj", "n_sources", "source_sha256", "pred"]

    def rows(df):
        return sorted(df.select(cols).collect())

    want = {
        s: rows(
            link_entities(extract_triples(c), gaz).groupBy("subj", "pred", "obj").agg(
                F.count("*").alias("n_sources"), F.min("source_sha256").alias("source_sha256")
            )
        )
        for s, c in snaps.items()
    }
    tables = {"snap-a": incremental_triples(spark, snaps["snap-a"], gaz, root, "snap-a")}
    # a crash after snapshot B's store append and before its delta commits
    resume_by_key(
        snaps["snap-b"], root, "linked_incr", "cumulative", ["repo", "path", "commit"],
        lambda todo: link_entities(extract_triples(todo), gaz),
    )
    # and an append that crashed before its commit: its task files stay
    # under _temporary, which no snapshot may consume
    store = stage_path(root, "linked_incr", "cumulative")
    uncommitted = os.path.join(store, "_temporary", "0", "task_0")
    os.makedirs(uncommitted)
    for f in os.listdir(store):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(store, f), uncommitted)
    for s in ("snap-b", "snap-c"):
        tables[s] = incremental_triples(spark, snaps[s], gaz, root, s)
    for s in snaps:
        assert tables[s].columns == cols
        assert rows(tables[s]) == want[s], s
    # only the deltas were extracted: the cumulative key log covers all files
    keys = spark.read.parquet(os.path.join(root, "linked_incr__keys", "snapshot=cumulative"))
    assert keys.count() == corpus.count()
    # the first snapshot's stage is its whole table; later stages are deltas
    stage = lambda s: spark.read.parquet(stage_path(root, "triples", s))
    assert rows(stage("snap-a")) == want["snap-a"]
    assert 0 < stage("snap-b").count() < tables["snap-b"].count()
    # re-calling an earlier snapshot after later ones returns its own rows
    assert rows(incremental_triples(spark, snaps["snap-a"], gaz, root, "snap-a")) == want["snap-a"]
    # a crash after B's chain record and before its delta: the delta is
    # rebuilt from the record, by B itself or by any snapshot chained on B
    shutil.rmtree(stage_path(root, "triples", "snap-b"))
    assert rows(incremental_triples(spark, corpus, gaz, root, "snap-c")) == want["snap-c"]
    assert is_materialized(root, "triples", "snap-b")
    assert rows(incremental_triples(spark, corpus, gaz, root, "snap-b")) == want["snap-b"]


def test_incremental_recall_of_unchained_snapshot(spark, tiny_spec, tmp_path):
    """A triple table written with no chain record (a full aggregate, as
    builds before delta chains wrote it) is returned as it is when its
    snapshot is called again, and no later snapshot counts it."""
    from bioie_llm_spark.datagen.corpus import build_corpus, build_gazetteer
    from bioie_llm_spark.extraction import extract_triples, link_entities
    from bioie_llm_spark.pipeline import incremental_triples

    root = str(tmp_path / "unchained")
    corpus = build_corpus(spark, tiny_spec).cache()
    gaz = build_gazetteer(spark, tiny_spec)
    snap_a = corpus.filter(F.col("path") < "src/file_3")
    cols = ["subj", "obj", "n_sources", "source_sha256", "pred"]

    def full(df):
        return df.groupBy("subj", "pred", "obj").agg(
            F.count("*").alias("n_sources"), F.min("source_sha256").alias("source_sha256")
        )

    def rows(df):
        return sorted(df.select(cols).collect())

    # snapshot A as an unchained build lays it out: store, key log, full table
    linked_a = link_entities(extract_triples(snap_a), gaz)
    linked_a.write.parquet(stage_path(root, "linked_incr", "cumulative"))
    snap_a.select("repo", "path", "commit").write.parquet(
        stage_path(root, "linked_incr__keys", "cumulative")
    )
    table_a = rows(materialize(full(linked_a), root, "triples", "snap-a", ["pred"]))
    want = rows(full(link_entities(extract_triples(corpus), gaz)))
    assert rows(incremental_triples(spark, corpus, gaz, root, "snap-b")) == want
    assert rows(incremental_triples(spark, snap_a, gaz, root, "snap-a")) == table_a
    assert rows(incremental_triples(spark, corpus, gaz, root, "snap-c")) == want


def test_materialize_empty_partitioned(spark, tmp_path):
    """An empty frame partitioned on write leaves no data file: the stage
    reads back empty with the frame's schema, partition columns last, on
    the first and on every later call."""
    root = str(tmp_path)
    df = spark.createDataFrame([], "subj string, pred string, obj string, n long")
    for _ in range(2):
        out = materialize(df, root, "triples", "s0", partition_by=["pred"])
        assert out.columns == ["subj", "obj", "n", "pred"]
        assert out.count() == 0
        assert dict(out.dtypes)["n"] == "bigint"


def _n_jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn`` runs (tagged with a fresh job group)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_materialize_reads_stage_once(spark, tmp_path):
    """A fresh materialize launches the jobs of its parts — the stage
    write, ONE read of the stage (a schema-inference job) and the lineage
    write — not a second read for the returned frame."""
    from bioie_llm_spark.sources.checkpoint import lineage_of

    df = spark.range(100).selectExpr("id", "id * 2 as v")
    ref = str(tmp_path / "ref")
    n_write = _n_jobs(spark, lambda: df.write.parquet(ref))
    n_read = _n_jobs(spark, lambda: spark.read.parquet(ref))
    written = spark.read.parquet(ref)
    n_lineage = _n_jobs(
        spark, lambda: lineage_of(written, "s", "snap").write.parquet(str(tmp_path / "lin"))
    )
    assert n_read == 1
    got = _n_jobs(spark, lambda: materialize(df, str(tmp_path / "root"), "s", "snap"))
    assert got == n_write + n_read + n_lineage


def _codecs(files) -> dict[str, set[str]]:
    import pyarrow.parquet as pq

    out = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        out[f] = {
            md.row_group(g).column(c).compression
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
        }
    return out


def test_checkpoint_layer_writes_zstd(spark, tmp_path):
    """Every parquet file the checkpoint layer writes — a materialized
    stage and its lineage, a resume_by_key store with its delta lineage
    and key log, and a bucketed table — has only ZSTD column chunks."""
    from urllib.parse import urlparse

    from bioie_llm_spark.operators.bucketing import write_bucketed
    from bioie_llm_spark.sources.checkpoint import _data_files, resume_by_key

    root = str(tmp_path / "ck")
    df = spark.range(200).selectExpr("id", "id % 3 as p", "sha2(cast(id as string), 256) as h")
    materialize(df, root, "stage", "s0", partition_by=["p"])
    half = df.filter("id < 100")
    resume_by_key(half, root, "rk", "s0", ["id"], lambda d: d)
    resume_by_key(df, root, "rk", "s0", ["id"], lambda d: d)
    table = "codec_probe_bucketed"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    write_bucketed(df, table, ["id"], n_buckets=4)
    try:
        files = _data_files(root) | set(spark.table(table).inputFiles())
        dirs = {os.path.relpath(os.path.dirname(f), root).split(os.sep)[0] for f in files}
        # the stage, its lineage, the store and its key log
        assert {"stage", "_lineage", "rk", "rk__keys"} <= dirs
        assert len([f for f in files if "/_lineage/stage=rk/" in f]) >= 2  # two deltas
        codecs = _codecs(urlparse(f).path for f in files)
        # (a file of an empty task has a schema footer but no column chunks)
        assert sum(len(c) > 0 for c in codecs.values()) >= 10
        assert {f: c for f, c in codecs.items() if not c <= {"ZSTD"}} == {}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_incremental_on_snappy_store(spark, tiny_spec, tmp_path):
    """A store whose first snapshot was written with snappy (an older
    build's codec) stays resumable: a zstd append on top mixes the codecs
    in one store, and the last snapshot's triple table equals a one-shot
    build over the full corpus."""
    from bioie_llm_spark.datagen.corpus import build_corpus, build_gazetteer
    from bioie_llm_spark.extraction import extract_triples, link_entities
    from bioie_llm_spark.pipeline import incremental_triples
    from bioie_llm_spark.sources.checkpoint import _data_files

    root = str(tmp_path / "mixed")
    corpus = build_corpus(spark, tiny_spec).cache()
    gaz = build_gazetteer(spark, tiny_spec)
    snap_a = corpus.filter(F.col("path") < "src/file_3")
    keys = ["repo", "path", "commit"]
    # snapshot A's store and key log, laid out as incremental_triples
    # lays them out, in snappy
    link_entities(extract_triples(snap_a), gaz).write.option(
        "compression", "snappy"
    ).parquet(stage_path(root, "linked_incr", "cumulative"))
    snap_a.select(keys).distinct().write.option("compression", "snappy").parquet(
        stage_path(root, "linked_incr__keys", "cumulative")
    )

    t_b = incremental_triples(spark, corpus, gaz, root, "snap-b")
    store = _codecs(_data_files(stage_path(root, "linked_incr", "cumulative")))
    assert set().union(*store.values()) == {"SNAPPY", "ZSTD"}
    oneshot = link_entities(extract_triples(corpus), gaz).groupBy("subj", "pred", "obj").agg(
        F.count("*").alias("n_sources"), F.min("source_sha256").alias("source_sha256")
    )
    cols = ["subj", "pred", "obj", "n_sources", "source_sha256"]
    assert sorted(t_b.select(cols).collect()) == sorted(oneshot.select(cols).collect())


def test_write_once_failed_build_leaves_nothing(tmp_path):
    """A build that raises midway leaves no complete-looking directory and
    no scratch sibling; the next call builds."""
    import pytest

    from bioie_llm_spark.sources.checkpoint import write_once

    path = str(tmp_path / "art")

    def broken(out):
        os.makedirs(out)
        with open(os.path.join(out, "half"), "w") as f:
            f.write("x")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError):
        write_once(path, broken)
    assert os.listdir(tmp_path) == []

    calls = []

    def good(out):
        calls.append(out)
        os.makedirs(out)
        with open(os.path.join(out, "data"), "w") as f:
            f.write("ok")

    assert write_once(path, good) == path
    assert write_once(path, good) == path
    assert len(calls) == 1
    assert sorted(os.listdir(path)) == ["_SUCCESS", "data"]
    assert os.listdir(tmp_path) == ["art"]


def test_write_once_race_keeps_one_complete_copy(tmp_path):
    """Two builds of one path that both finish before either renames: the
    first rename wins, the loser discards its copy, and neither raises."""
    import threading

    from bioie_llm_spark.sources.checkpoint import write_once

    path = str(tmp_path / "art")
    both_built = threading.Barrier(2)
    errors = []

    def builder(owner):
        def build(out):
            os.makedirs(out)
            for name in ("a", "b"):
                with open(os.path.join(out, name), "w") as f:
                    f.write(owner)
            both_built.wait(timeout=30)

        try:
            write_once(path, build)
        except Exception as e:  # noqa: BLE001 - surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=builder, args=(o,)) for o in ("x", "y")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert os.listdir(tmp_path) == ["art"]
    assert sorted(os.listdir(path)) == ["_SUCCESS", "a", "b"]
    owners = {open(os.path.join(path, n)).read() for n in ("a", "b")}
    assert len(owners) == 1 and owners <= {"x", "y"}
