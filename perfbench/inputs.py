"""Seeded benchmark inputs.

``datagen.corpus`` pins its hash seed to a constant, so the benchmark keeps
its own generator keyed on ``--seed``.  It reuses the package's entity-name
scheme, predicates, sentence templates and gazetteer, and keeps the corpus
properties the engine's behaviour depends on:

- hot-repo skew: about 30% of files land in 3 repos;
- ``SYN_`` aliases: every 5th protein has one (``extraction`` mirrors this
  rule when it emits synonyms, so the gazetteer is the package's own);
- distractor tokens that embed gazetteer names inside longer tokens;
- files that carry no facts at all (a tenth of them).

The KG inputs are drawn in Python from ``random.Random(seed)`` and written
with pyarrow, so set-up spends no Spark jobs on them; only the gazetteer
comes from ``datagen.corpus.build_gazetteer``.  The corpus carries an
``arrival`` partition column that the incremental phase of the ``kg``
workload slices snapshots by.  The document pool for the curation
workload mirrors the shape of the query registry's ``documents`` table
(30-word vocabulary, 10-100 tokens, 5% near-duplicates, five languages);
the pool is fixed and the seed picks the sample, keyed on
``xxhash64(doc_id, seed)``.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bioie_llm_spark.datagen.corpus import (
    INDRA_VERB_LIST,
    INDRA_VERBS,
    LANGS,
    PRED_HAS_GENE,
    PRED_INTERACTS,
    TRAP_NAMES,
    CorpusSpec,
    build_gazetteer,
)

BASE_PCT = 98
ARRIVAL_PCT = 2
N_ARRIVALS = (100 - BASE_PCT) // ARRIVAL_PCT


# the names datagen.corpus's protein_name_col / gene_name_col /
# pathway_name_col give entity i, so the package's gazetteer links them
def protein_name(i: int) -> str:
    return TRAP_NAMES[i] if i < len(TRAP_NAMES) else f"PR{i:07d}X"


def gene_name(i: int) -> str:
    return f"GEN{i:07d}B"


def pathway_name(i: int) -> str:
    return f"PWY_{i:06d}"


def facts(spec: CorpusSpec, rng: random.Random) -> list[tuple[str, str, str, str, str]]:
    """Gold facts (fact_kind, subj, pred, obj, sentence): STRING edges,
    KEGG memberships and INDRA statements, deduped on (subj, pred, obj)."""
    out: dict[tuple[str, str, str], tuple[str, str, str, str, str]] = {}
    for _ in range(spec.n_edges):
        a, b = rng.randrange(spec.n_prot), rng.randrange(spec.n_prot)
        if a != b:
            s, o = protein_name(min(a, b)), protein_name(max(a, b))
            out.setdefault((s, PRED_INTERACTS, o), ("ppi", s, PRED_INTERACTS, o, f"{s} interacts with {o}."))
    for _ in range(spec.n_memberships):
        s, o = pathway_name(rng.randrange(spec.n_pathways)), gene_name(rng.randrange(spec.n_genes))
        out.setdefault((s, PRED_HAS_GENE, o), ("kegg", s, PRED_HAS_GENE, o, f"Pathway {s} includes gene {o}."))
    for _ in range(spec.n_statements):
        a, b = rng.randrange(spec.n_prot), rng.randrange(spec.n_prot)
        verb = rng.choice(INDRA_VERB_LIST)
        if a != b:
            s, p, o = protein_name(a), INDRA_VERBS[verb], protein_name(b)
            out.setdefault((s, p, o), ("indra", s, p, o, f"{s} {verb} {o}."))
    return sorted(out.values())


def corpus(spec: CorpusSpec, gold: list, rng: random.Random, seed: int) -> dict[str, list]:
    """Source files (repo, path, commit, lang, content, arrival): the gold
    sentences scattered over nine tenths of ``spec.n_files`` files; the
    other files hold only the header and distractor.  ``arrival`` is 0 for
    the base snapshot (about ``BASE_PCT`` percent of the files), then
    1..``N_ARRIVALS`` for the snapshots that arrive later."""
    n_fact_files = spec.n_files - spec.n_files // 10
    sentences: list[list[str]] = [[] for _ in range(spec.n_files)]
    for fact in gold:
        sentences[rng.randrange(n_fact_files)].append(fact[4])
    cols: dict[str, list] = {k: [] for k in ("repo", "path", "commit", "lang", "content", "arrival")}
    for fid in range(spec.n_files):
        repo = f"org/hot-{rng.randrange(3)}" if rng.random() < 0.3 else f"org/repo-{rng.randrange(197)}"
        token = hashlib.md5(f"d{seed}:{fid}".encode()).hexdigest()
        bucket = rng.randrange(100)
        cols["repo"].append(repo)
        cols["path"].append(f"src/file_{fid}.py")
        cols["commit"].append(hashlib.sha1(f"{seed}:{fid}:{repo}".encode()).hexdigest())
        cols["lang"].append(rng.choice(LANGS))
        cols["content"].append("\n".join([
            f"# synthetic corpus file {fid}",
            "\n".join(sorted(sentences[fid])),
            f"// distractor: xEB1y RHEBQ zPSD-95w token_{token}",
        ]))
        cols["arrival"].append(0 if bucket < BASE_PCT else 1 + (bucket - BASE_PCT) // ARRIVAL_PCT)
    return cols


@dataclass(frozen=True)
class KgInputs:
    root: str
    n_files: int
    corpus_bytes: int
    n_gold: int
    files_per_arrival: tuple[int, ...]

    @property
    def corpus(self) -> str:
        return os.path.join(self.root, "corpus")

    @property
    def gazetteer(self) -> str:
        return os.path.join(self.root, "gazetteer")

    @property
    def gold(self) -> str:
        return os.path.join(self.root, "gold")


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total


def write_kg_inputs(spark: SparkSession, spec: CorpusSpec, seed: int, root: str) -> KgInputs:
    """Write the seeded corpus (partitioned by ``arrival``), the gazetteer
    and the gold facts as parquet.  Each arrival's files are spread over
    one file per core so the scan splits."""
    out = KgInputs(root, spec.n_files, 0, 0, ())
    rng = random.Random(seed)
    gold = facts(spec, rng)
    cols = corpus(spec, gold, rng, seed)
    cores = spark.sparkContext.defaultParallelism
    counts = []
    for a in range(N_ARRIVALS + 1):
        rows = [i for i, x in enumerate(cols["arrival"]) if x == a]
        counts.append(len(rows))
        part = os.path.join(out.corpus, f"arrival={a}")
        os.makedirs(part)
        for c in range(cores):
            chunk = rows[c::cores]
            table = pa.table({k: [cols[k][i] for i in chunk] for k in cols if k != "arrival"})
            pq.write_table(table, os.path.join(part, f"part-{c:05d}.parquet"))
    os.makedirs(out.gold)
    pq.write_table(
        pa.table({k: [f[i] for f in gold] for i, k in enumerate(("fact_kind", "subj", "pred", "obj"))}),
        os.path.join(out.gold, "part-00000.parquet"),
    )
    build_gazetteer(spark, spec).coalesce(1).write.parquet(out.gazetteer)
    return KgInputs(root, spec.n_files, parquet_bytes(out.corpus), len(gold), tuple(counts))


# -- documents ---------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DOC_LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3
POOL_SIZE = 5000


def document_pool() -> list[tuple[int, int, str, str, str, int]]:
    """Fixed pool of (family, doc_id, text, lang, source, n_chars) rows
    shaped like the query registry's documents table.  ``family`` is the doc_id of
    the original; every 20th original has a copy with a trailing ``dup``
    token."""
    rng = random.Random(20261016)
    rows = []
    for i in range(POOL_SIZE):
        text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        family = len(rows)
        for t in [text, text + " dup"] if i % 20 == 0 else [text]:
            doc_id = len(rows)
            rows.append((family, doc_id, t, rng.choice(DOC_LANGS), f"src{doc_id % 20}", len(t)))
    return rows


def write_documents(spark: SparkSession, n_docs: int, seed: int, sf_dir: str) -> int:
    """Write ``{sf_dir}/documents.parquet`` (the layout the query registry
    reads): the first ``n_docs`` pool documents in ``xxhash64(doc_id,
    seed)`` order of their family's original, so near-duplicate pairs are
    drawn together.  Returns the parquet bytes."""
    pool = spark.createDataFrame(
        document_pool(),
        "family long, doc_id long, text string, lang string, source string, n_chars long",
    )
    path = os.path.join(sf_dir, "documents.parquet")
    (
        pool.orderBy(F.xxhash64("family", F.lit(seed)), "doc_id")
        .limit(n_docs)
        .drop("family")
        .orderBy("doc_id")
        .coalesce(1)
        .write.parquet(path)
    )
    return parquet_bytes(path)


def content_digest(spark: SparkSession, path: str) -> str:
    """sha256 over the sorted rows of a parquet table: equal digests mean
    byte-identical rows, whatever the file layout."""
    df = spark.read.parquet(path)
    h = hashlib.sha256()
    for row in df.orderBy(*df.columns).toLocalIterator():
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()
