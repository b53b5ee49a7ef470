"""Physical-plan audit over the whole driver registry.

Runs every registry query at sf0.01, counts the plan features that decide
100 TB behavior (exchanges, join strategies, cartesian products, codegen
spans, Python-UDF stages), and writes the table to PLANS_AUDIT.md. The
same stats back tests/test_plan_hygiene.py, which fails the suite if an
unexpected cartesian product or an un-broadcast dimension join sneaks in.

    python scripts/audit_plans.py            # writes PLANS_AUDIT.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FEATURES = {
    "exchanges": r"\bExchange\b",
    "bhj": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "cartesian": r"CartesianProduct|BroadcastNestedLoopJoin",
    "hashagg": r"HashAggregate|ObjectHashAggregate",
    "scans": r"FileScan|Scan parquet",
    "python": r"MapInPandas|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|FlatMapGroupsWithStateInPandas",
    "window": r"\bWindow\b",
    "sort": r"\bSort\b",
}

# queries whose plan legitimately contains a cartesian/nested-loop join:
CARTESIAN_OK = {
    # all-pairs EXACT twins (correctness baselines for the LSH paths) and
    # the 5-query broadcast probe of the ANN brute-force baseline
    "sim_near_dup_pairs",
    "sim_near_dup_lsh",   # contains its exact twin for the recall grade
    "sim_cosine_topk",
    "sim_ann_recall",     # contains the brute-force baseline
    # 1-row x 1-row crossJoins composing scalar aggregates into one result
    # row (the scored-task row: metrics x recompute x n_pairs x pairs_hash;
    # digest rows) — bounded by construction
    "kg_entity_task",
    "kg_relation_task",
    "kg_relation_type_task",
    "kg_kegg_entity_task",
    "kg_canonicalize",
    "kg_hot_predicates",  # hot rows x 1-row salted_eq/skew_bound digests
    "txt_profile",        # LM scoring x 1-row total-token count (r4)
    "dd_minhash_simhash_check",
    "dd_fuzzy_dedup",
    "cur_source_mixing",  # mixing rows x 1-row packing-invariant digest (r5)
    "p5_p6_fanout_filter",  # degree rows x broadcast 1-row quartile band (r6)
    "st_stream_batch_equiv",
    "a6_a10_confusion",   # 5-row pivot x 1-row full-match summary
    # negative pairs over a 25-row DIMENSION table: the oracle-matched
    # dim-scale spec is the explicit small cross join; the scale operator
    # (adjacency.negative_pairs) is hash-drawn, never cartesian
    "j3_j4_anti_negatives",
    "txt_tfidf_topterms",  # tf-df rows x broadcast 1-row corpus-size digest (r7)
}


def plan_stats(df, features: dict[str, str] = FEATURES) -> dict[str, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {k: len(re.findall(rx, plan)) for k, rx in features.items()}


def audit(spark, sf_dir: str) -> dict[str, dict[str, int]]:
    from bioie_llm_spark.queries import REGISTRY

    out = {}
    for name, (fn, _) in REGISTRY.items():
        out[name] = plan_stats(fn(spark, sf_dir))
    return out


def main() -> None:
    from bioie_llm_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(cores=8, app_name="plan-audit")
    stats = audit(spark, sf_dir)
    cols = list(FEATURES)
    lines = [
        "# PLANS_AUDIT — physical-plan feature counts per registry query",
        "",
        f"Generated by `python scripts/audit_plans.py` at {sf_dir} (initial",
        "physical plans; AQE may further coalesce at runtime). `cartesian`",
        "counts CartesianProduct + BroadcastNestedLoopJoin — nonzero only in",
        "the documented exact/brute-force baseline twins: "
        + ", ".join(sorted(CARTESIAN_OK)) + ".",
        "",
        "| query | " + " | ".join(cols) + " |",
        "|---|" + "---|" * len(cols),
    ]
    for name, st in stats.items():
        lines.append(
            f"| {name} | " + " | ".join(str(st[c]) for c in cols) + " |"
        )
    bad = [
        n for n, st in stats.items() if st["cartesian"] and n not in CARTESIAN_OK
    ]
    lines += ["", f"Unexpected cartesian products: {bad or 'none'}"]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS_AUDIT.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines[-2:]))
    spark.stop()
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
