"""Check that the benchmark's inputs are a function of ``--seed`` alone.

    python3 perfbench/check_inputs.py

Run from the repository root.  Writes the KG inputs (corpus, gazetteer,
gold) and the document sample twice for one seed and once for another, at
a small scale, and compares the sorted rows of every table by sha256: the
same seed must give byte-identical rows, another seed different corpus,
gold and document rows.  The gazetteer does not depend on the seed.  Also
checks the corpus properties the engine's behaviour depends on.  Exits 0
when every check holds, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEEDS = (7, 8)
N_DOCS = 50


def main() -> int:
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from bioie_llm_spark.datagen.corpus import CorpusSpec
    from bioie_llm_spark.session import get_spark
    from perfbench import inputs, procmem

    spec = CorpusSpec.for_scale(0.001)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="inputs-", dir=os.path.join(ROOT, ".perfbench"))
    spark = get_spark(cores=2, app_name="perfbench-inputs", extra_conf={"spark.ui.showConsoleProgress": "false"})
    fails = []
    try:
        digests = {}
        for tag, seed in (("a", SEEDS[0]), ("b", SEEDS[0]), ("c", SEEDS[1])):
            root = os.path.join(work, tag)
            kg = inputs.write_kg_inputs(spark, spec, seed, os.path.join(root, "kg"))
            inputs.write_documents(spark, N_DOCS, seed, os.path.join(root, "docs"))
            digests[tag] = {
                "corpus": inputs.content_digest(spark, kg.corpus),
                "gazetteer": inputs.content_digest(spark, kg.gazetteer),
                "gold": inputs.content_digest(spark, kg.gold),
                "documents": inputs.content_digest(spark, os.path.join(root, "docs", "documents.parquet")),
            }
            if tag == "a":
                fails += corpus_properties(spark, F, kg)
        for table, d in digests["a"].items():
            if d != digests["b"][table]:
                fails.append(f"seed {SEEDS[0]} gave two different {table} tables")
            if table != "gazetteer" and d == digests["c"][table]:
                fails.append(f"seeds {SEEDS[0]} and {SEEDS[1]} gave the same {table} table")
    finally:
        procmem.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for f in fails:
        print(f"FAIL: {f}")
    print("ok" if not fails else f"{len(fails)} check(s) failed")
    return 1 if fails else 0


def corpus_properties(spark, F, kg) -> list[str]:
    """Hot-repo skew, SYN_ aliases, distractors and fact-free files."""
    corpus = spark.read.parquet(kg.corpus)
    n = corpus.count()
    fails = []
    hot = corpus.filter(F.col("repo").startswith("org/hot-")).count() / n
    if not 0.2 <= hot <= 0.4:
        fails.append(f"{hot:.2f} of the files are in the hot repos, not about 0.3")
    if corpus.select("repo").filter(F.col("repo").startswith("org/hot-")).distinct().count() != 3:
        fails.append("the hot files are not in 3 repos")
    if corpus.filter(~F.col("content").contains("distractor")).count():
        fails.append("a file has no distractor line")
    if not corpus.filter(F.split("content", "\n").getItem(1) == "").count():
        fails.append("no file is free of facts")
    if not spark.read.parquet(kg.gazetteer).filter(F.col("alias").startswith("SYN_")).count():
        fails.append("the gazetteer has no SYN_ aliases")
    return fails


if __name__ == "__main__":
    sys.exit(main())
