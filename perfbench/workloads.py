"""The benchmark's workloads.

Each workload has these steps:

- ``prepare`` (set-up): write the seeded inputs and the write-once
  artifacts the passes read;
- ``before_pass`` (untimed): lay out the pass's fresh output root;
- ``run_pass`` (timed): call the engine's public functions.  Calls whose
  output is not written are forced by a ``bit_xor(xxhash64(...))`` digest
  inside the timed region; written outputs come back as frames that the
  runner digests after the clock stops;
- ``consistency`` (untimed, every pass): checks between one pass's digests;
- ``check`` (untimed, once per run): semantic checks on the first pass.

Every later pass of a run must also reproduce the first pass's digests.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bioie_llm_spark import pipeline, queries
from bioie_llm_spark.datagen.corpus import PRED_INTERACTS, CorpusSpec
from bioie_llm_spark.extraction import extract_triples, link_entities
from bioie_llm_spark.operators.adjacency import symmetric_adjacency
from bioie_llm_spark.operators.bucketing import ensure_bucketed_table
from bioie_llm_spark.operators.curation import pack_sequences
from bioie_llm_spark.operators.dedup import minhash_lsh_candidates
from bioie_llm_spark.operators.metrics import triple_pr
from bioie_llm_spark.sources.checkpoint import materialize

from . import inputs

SNAPSHOT = "snap-000"
MIN_PR = 0.95


def digest(df: DataFrame) -> tuple[int, int]:
    """(rows, bit_xor of per-row xxhash64) over the doubles-rounded frame:
    forces every column of the full output."""
    r = queries.round_doubles(df)
    row = r.agg(
        F.count("*"), F.bit_xor(F.xxhash64(*[F.col(c).cast("string") for c in r.columns]))
    ).first()
    return int(row[0]), int(row[1] or 0)


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class PassResult:
    def __init__(self, forced=None, written=None, out_bytes=0, phases=None, snapshots=None, table=None):
        self.forced: dict[str, tuple[int, int]] = forced or {}
        self.written: dict[str, DataFrame] = written or {}
        self.out_bytes = out_bytes
        self.phases: dict[str, float] = phases or {}
        self.snapshots: list[float] = snapshots or []
        self.table = table


class Kg:
    """The KG engine's three jobs in one pass over a seeded corpus.

    - build: corpus -> extraction -> linking -> dedup -> triple table
      partitioned by predicate -> subject-bucketed copy, which is
      ``pipeline.build_triples(out_dir=...)`` without its datagen;
    - score: ``pipeline.entity_task`` on the built triples, plus the
      triple adjacency it groups on, forced on its own;
    - incremental: on a copy of the base snapshot that set-up built from
      the first ``inputs.BASE_PCT`` percent of the files, one
      ``pipeline.incremental_triples`` call per arriving snapshot, each
      timed from arrival until its triple table is readable.  The last
      snapshot holds the whole corpus, so its triple table must equal the
      one-shot build's.
    """

    name = "kg"
    spec = CorpusSpec.for_scale(0.005)
    # relation_task, relation_type_task and kegg_entity_task would add
    # about 12 s to a pass and the timed triple_pr 1.3 s; entity_task
    # already runs the layers they share (mock generation, mention
    # matching, adjacency, sampling, metrics), and check() grades the
    # triple table with triple_pr once per run
    tasks = ("entity_task",)

    def prepare(self, spark: SparkSession, root: str, seed: int) -> None:
        t = time.perf_counter()
        self.inp = inputs.write_kg_inputs(spark, self.spec, seed, os.path.join(root, "inputs"))
        self.inputs_s = time.perf_counter() - t
        self.base = os.path.join(root, "base")
        self.corpus = self.snapshot_corpus(spark, inputs.N_ARRIVALS)
        self.gaz = spark.read.parquet(self.inp.gazetteer)
        self.gold = spark.read.parquet(self.inp.gold)
        self.n_pass = 0
        pipeline.incremental_triples(
            spark, self.snapshot_corpus(spark, 0), self.gaz, self.base, "snap-base"
        )
        self.artifact_s = time.perf_counter() - t - self.inputs_s

    def snapshot_corpus(self, spark: SparkSession, arrival: int) -> DataFrame:
        """The corpus as of the given arrival: the base files plus every
        snapshot up to and including ``arrival``."""
        return (
            spark.read.parquet(self.inp.corpus)
            .filter(F.col("arrival") <= arrival)
            .drop("arrival")
        )

    def size(self) -> dict:
        return {
            "files": self.inp.n_files,
            "in_bytes": self.inp.corpus_bytes,
            "gold_triples": self.inp.n_gold,
            "files_per_arrival": self.inp.files_per_arrival,
        }

    def before_pass(self, out: str) -> None:
        shutil.copytree(self.base, os.path.join(out, "incremental"))

    def run_pass(self, spark: SparkSession, tr, out: str) -> PassResult:
        self.n_pass += 1
        build = os.path.join(out, "build")
        t0 = time.perf_counter()
        raw = tr.run(
            "sources.materialize[raw]",
            lambda: materialize(extract_triples(self.corpus), build, "raw", SNAPSHOT),
        )
        linked = tr.run(
            "sources.materialize[linked]",
            lambda: materialize(link_entities(raw, self.gaz), build, "linked", SNAPSHOT),
        )
        triples = tr.run(
            "sources.materialize[triples]",
            lambda: materialize(
                # the triple-dedup aggregate of pipeline.build_triples
                linked.groupBy("subj", "pred", "obj").agg(
                    F.count("*").alias("n_sources"),
                    F.min("source_sha256").alias("source_sha256"),
                ),
                build,
                "triples",
                SNAPSHOT,
                partition_by=["pred"],
            ),
        )
        table = f"perfbench_triples_{self.n_pass}"
        tr.run(
            "operators.bucketing.ensure_bucketed_table",
            lambda: ensure_bucketed_table(triples, table, ["subj"], n_buckets=8),
        )
        t1 = time.perf_counter()
        forced = {}
        forced["symmetric_adjacency"] = tr.run(
            "operators.adjacency.symmetric_adjacency",
            lambda: digest(
                symmetric_adjacency(triples.filter(F.col("pred") == PRED_INTERACTS), "subj", "obj")
            ),
        )
        for task in self.tasks:
            fn = getattr(pipeline, task)
            forced[task] = tr.run(
                f"pipeline.{task}", lambda fn=fn: digest(fn(triples, self.gold)["metrics"])
            )
        t2 = time.perf_counter()
        incr = os.path.join(out, "incremental")
        snapshots = []
        for a in range(1, inputs.N_ARRIVALS + 1):
            corpus = self.snapshot_corpus(spark, a)
            ts = time.perf_counter()
            latest = tr.run(
                "pipeline.incremental_triples",
                lambda: pipeline.incremental_triples(spark, corpus, self.gaz, incr, f"snap-{a:03d}"),
            )
            snapshots.append(time.perf_counter() - ts)
        t3 = time.perf_counter()
        return PassResult(
            forced=forced,
            written={
                "raw": raw,
                "linked": linked,
                "triples": triples,
                "bucketed": spark.table(table),
                "incremental": latest,
            },
            out_bytes=tree_bytes(out) - tree_bytes(self.base),
            phases={"build_s": t1 - t0, "score_s": t2 - t1, "incremental_s": t3 - t2},
            snapshots=snapshots,
            table=table,
        )

    def after_pass(self, spark: SparkSession, res: PassResult) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {res.table}")

    def consistency(self, got: dict) -> list[str]:
        fails = []
        if got["bucketed"] != got["triples"]:
            fails.append("the bucketed copy differs from the triple table")
        if got["incremental"] != got["triples"]:
            fails.append("the last incremental snapshot differs from the one-shot build")
        return fails

    def check(self, spark: SparkSession, res: PassResult) -> list[str]:
        fails = []
        row = triple_pr(res.written["triples"], self.gold).first()
        if row["precision"] < MIN_PR or row["recall"] < MIN_PR:
            fails.append(f"triple P/R {row['precision']:.4f}/{row['recall']:.4f} < {MIN_PR}")
        bad = (
            res.written["raw"]
            .join(self.corpus, ["repo", "path"])
            .filter(F.sha2("content", 256) != F.col("source_sha256"))
            .count()
        )
        if bad:
            fails.append(f"{bad} raw rows break sha2(content, 256) == source_sha256")
        return fails

    def key_yield(self) -> float:
        """sources.resume_by_key's useful share: new keys over probed keys,
        the median over the arriving snapshots."""
        counts = self.inp.files_per_arrival
        ratios = [counts[a] / sum(counts[: a + 1]) for a in range(1, len(counts))]
        return sorted(ratios)[len(ratios) // 2]


class DocCuration:
    """The document registry slots with their full output forced, plus
    MinHash LSH candidates and a written sequence packing, over a
    seed-keyed document sample."""

    name = "doc_curation"
    n_docs = 100
    # dd_exact_clean_corpus (about 4.6 s a pass) and txt_tfidf_topterms
    # (about 1.3 s) are left out to fit the run budget; no open direction
    # of the roadmap targets them
    slots = (
        "txt_profile",
        "dd_ngram_jaccard",
        "cur_contamination",
    )

    def prepare(self, spark: SparkSession, root: str, seed: int) -> None:
        self.sf_dir = os.path.join(root, "docs")
        t = time.perf_counter()
        self.doc_bytes = inputs.write_documents(spark, self.n_docs, seed, self.sf_dir)
        self.inputs_s = time.perf_counter() - t
        # the write-once artifact txt_profile scores against (LM count tables)
        queries._lm_parquet(spark, self.sf_dir)
        self.artifact_s = time.perf_counter() - t - self.inputs_s

    def size(self) -> dict:
        return {"docs": self.n_docs, "in_bytes": self.doc_bytes}

    def before_pass(self, out: str) -> None:
        pass

    def run_pass(self, spark: SparkSession, tr, out: str) -> PassResult:
        registry = queries.all_queries()
        forced = {}
        for slot in self.slots:
            forced[slot] = tr.run(
                f"queries.{slot}", lambda slot=slot: digest(registry[slot](spark, self.sf_dir))
            )
        docs = queries.load(spark, self.sf_dir, "documents")
        forced["minhash_lsh_candidates"] = tr.run(
            "operators.dedup.minhash_lsh_candidates",
            lambda: digest(minhash_lsh_candidates(docs)),
        )
        # the packing the registry's cur_source_mixing artifact writes: the
        # workload's Python/Arrow (applyInPandas) step and its file sink
        packed = os.path.join(out, "packed")
        tr.run(
            "operators.curation.pack_sequences",
            lambda: pack_sequences(docs, queries._PACK_MAX_TOKENS, n_groups=16).write.parquet(packed),
        )
        return PassResult(
            forced=forced,
            written={"packed": spark.read.parquet(packed)},
            out_bytes=tree_bytes(out),
        )

    def after_pass(self, spark: SparkSession, res: PassResult) -> None:
        pass

    def consistency(self, got: dict) -> list[str]:
        return []

    def check(self, spark: SparkSession, res: PassResult) -> list[str]:
        return [f"{k} returned no rows" for k, (n, _) in res.forced.items() if n == 0]


WORKLOADS = {w.name: w for w in (Kg, DocCuration)}
