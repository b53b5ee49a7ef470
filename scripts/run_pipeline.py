#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (the north_rule deployment shape)::

    python -c "from bioie_llm_spark.session import package_zip; print(package_zip())"
    spark-submit --py-files /tmp/bioie_llm_spark.zip \
        scripts/run_pipeline.py --sf 0.1 --out /data/kg_out --snapshot snap-001

Local sandbox usage::

    python scripts/run_pipeline.py --sf 0.01 --out /tmp/kg_out --cores 8

Runs corpus -> extraction -> linking -> triple table (pred-partitioned,
checkpoint-resumable, lineage-tracked) and prints a one-line JSON summary
with triple P/R vs the planted gold set, the bytes stored under each stage
directory of ``--out`` (``stage_bytes``; ``_lineage`` is its own entry) and
their total per byte of corpus text (``bytes_per_corpus_byte``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def tree_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _dirs, files in os.walk(path) for f in files
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.01, help="corpus scale factor")
    ap.add_argument("--out", required=True, help="output root (stages + lineage)")
    ap.add_argument("--snapshot", default="snap-000")
    ap.add_argument("--cores", default=os.environ.get("SPARK_GRAFT_CPUS", "*"))
    ap.add_argument("--miss", type=int, default=20, help="extraction miss rate, per mille")
    ap.add_argument("--hallu", type=int, default=10, help="hallucination rate, per mille")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from bioie_llm_spark.datagen.corpus import CorpusSpec
    from bioie_llm_spark.operators.metrics import triple_pr
    from bioie_llm_spark.pipeline import build_triples

    # under spark-submit a session already exists; standalone we build one
    active = SparkSession.getActiveSession()
    if active is None:
        from bioie_llm_spark.session import get_spark

        spark = get_spark(cores=args.cores, app_name="kg-pipeline")
    else:
        spark = active

    spec = CorpusSpec.for_scale(args.sf)
    t0 = time.time()
    stages = build_triples(
        spark, spec, out_dir=args.out, snapshot=args.snapshot,
        miss_per_mille=args.miss, hallu_per_mille=args.hallu,
    )
    n_triples = stages["triples"].count()
    pr = triple_pr(stages["triples"], stages["facts"]).first()
    sec = time.time() - t0
    corpus_bytes = stages["corpus"].agg(F.sum(F.octet_length("content"))).first()[0]
    stage_bytes = {
        d: tree_bytes(os.path.join(args.out, d))
        for d in sorted(os.listdir(args.out))
        if d != "metrics" and os.path.isdir(os.path.join(args.out, d))
    }
    summary = {
        "snapshot": args.snapshot,
        "sf": args.sf,
        "n_files": spec.n_files,
        "n_triples": n_triples,
        "precision": round(pr["precision"], 4),
        "recall": round(pr["recall"], 4),
        "f1": round(pr["f1"], 4),
        "sec": round(sec, 2),
        "stage_bytes": stage_bytes,
        "bytes_per_corpus_byte": round(sum(stage_bytes.values()) / corpus_bytes, 4),
        "out": args.out,
    }
    # S10 metrics sink: the reference writes scores into every result file
    # header (evaluator.py:70-132); here one JSON per snapshot
    mdir = os.path.join(args.out, "metrics")
    os.makedirs(mdir, exist_ok=True)
    with open(os.path.join(mdir, f"snapshot={args.snapshot}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
