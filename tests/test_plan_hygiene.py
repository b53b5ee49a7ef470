"""Plan-hygiene gate over the whole registry: no query may introduce an
undocumented cartesian product / nested-loop join, and the flagship
extraction path must keep its zero-exchange-before-UDF + broadcast-only
linking shape. Full per-query feature counts: scripts/audit_plans.py ->
PLANS_AUDIT.md."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from audit_plans import CARTESIAN_OK, FEATURES, plan_stats  # noqa: E402

from bioie_llm_spark.queries import REGISTRY

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def test_no_undocumented_cartesian(spark):
    bad = {}
    for name, (fn, _) in REGISTRY.items():
        st = plan_stats(fn(spark, SF_DIR))
        if st["cartesian"] and name not in CARTESIAN_OK:
            bad[name] = st["cartesian"]
    assert not bad, f"undocumented cartesian/nested-loop joins: {bad}"


SF_TINY = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


def test_sim_near_dup_lsh_plans_one_all_pairs_join(spark):
    """sim_near_dup_lsh takes its exact twin's four counts from one
    aggregate, so its plan holds one all-pairs cosine join (the SemDeDup
    twin's join is checkpointed before planning)."""
    plan = REGISTRY["sim_near_dup_lsh"][0](spark, SF_TINY)._jdf.queryExecution().executedPlan()
    joins = [
        line
        for line in plan.toString().splitlines()
        if "BroadcastNestedLoopJoin" in line and "zip_with(va" in line
    ]
    assert len(joins) == 1, joins


def test_sim_near_dup_pairs_spans_every_core(spark):
    """The all-pairs join keeps its streamed side's partitioning, so it
    runs on every core only if the embeddings scan is fanned out first."""
    pairs = REGISTRY["sim_near_dup_pairs"][0](spark, SF_TINY)
    assert pairs.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_txt_profile_plans_one_pii_scrub(spark):
    """txt_profile stages the scrubbed text in its own projection, so the
    three-regex PII scrub its six mask-count terms read appears once in
    the optimized plan."""
    plan = REGISTRY["txt_profile"][0](spark, SF_TINY)._jdf.queryExecution().optimizedPlan()
    assert plan.toString().count("https?://") == 1


def test_extraction_plan_shape(spark):
    """MapInPandas directly over the scan (no exchange before the UDF);
    both gazetteer joins broadcast; zero sort-merge joins anywhere."""
    from bioie_llm_spark.datagen.corpus import CorpusSpec, build_corpus, build_gazetteer
    from bioie_llm_spark.extraction import extract_triples, link_entities

    spec = CorpusSpec.for_scale(0.001)
    linked = link_entities(extract_triples(build_corpus(spark, spec)), build_gazetteer(spark, spec))
    st = plan_stats(linked)
    assert st["python"] >= 1          # the inference UDF
    assert st["bhj"] >= 2             # both linking joins broadcast
    assert st["smj"] == 0 and st["cartesian"] == 0


def test_curation_plan_shapes(spark):
    """Round-3 curation operators keep their documented physical shapes
    (PLANS.md): contamination joins the benchmark by BROADCAST only;
    chunking is a pure zero-exchange map; the mixing draw pays exactly one
    (window) exchange; packing repartitions once into its salt groups and
    folds each group in Catalyst, with no Python node."""
    from pyspark.sql import functions as F

    from bioie_llm_spark.operators.curation import (
        chunk_documents,
        contamination_check,
        mix_sources,
        pack_sequences,
        source_mix_targets,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")

    st = plan_stats(contamination_check(docs, bench))
    assert st["bhj"] >= 1 and st["smj"] == 0 and st["cartesian"] == 0

    st = plan_stats(chunk_documents(docs))
    assert st["exchanges"] == 0 and st["python"] == 0

    targets = source_mix_targets(docs, total=100)
    st = plan_stats(mix_sources(docs, targets))
    assert st["exchanges"] == 1 and st["window"] == 1 and st["cartesian"] == 0

    st = plan_stats(pack_sequences(docs, max_tokens=256))
    assert st["exchanges"] == 1 and st["python"] == 0


def test_scored_task_metrics_run_each_udf_once(spark, tmp_path_factory):
    """Each scored task's metrics frame plans exactly one evaluation of
    each Python UDF it uses — the generate (MapInPandas); the mention
    matcher is a Catalyst expression, so no task plans an ArrowEvalPython
    — and no cartesian product. Every extra reference to the task's pairs
    would re-run the whole generate -> match chain in a branch of its own."""
    from bioie_llm_spark.datagen.corpus import CorpusSpec
    from bioie_llm_spark.pipeline import (
        build_triples,
        entity_task,
        kegg_entity_task,
        relation_task,
        relation_type_task,
    )

    # triples read back from parquet: the extraction UDF is not in the plans
    stages = build_triples(
        spark, CorpusSpec.for_scale(0.001), out_dir=str(tmp_path_factory.mktemp("kg"))
    )
    triples, facts = stages["triples"], stages["facts"]
    udfs = {
        "generate": r"MapInPandas",
        "matcher": r"ArrowEvalPython",
        "python": FEATURES["python"],
        "cartesian": FEATURES["cartesian"],
    }
    want = {
        "entity": (entity_task, 0),
        "relation": (relation_task, 0),
        "relation_type": (relation_type_task, 0),
        "kegg_entity": (kegg_entity_task, 0),
    }
    got = {
        name: plan_stats(task(triples, facts)["metrics"], udfs)
        for name, (task, _) in want.items()
    }
    assert got == {
        name: {"generate": 1, "matcher": n_matcher, "python": 1 + n_matcher, "cartesian": 0}
        for name, (_, n_matcher) in want.items()
    }


def test_contamination_bloom_starts_no_python(spark):
    """The Bloom screen's build and probe are Catalyst: no Python node in
    the screen's plan (the bitmap build runs eagerly while planning)."""
    from pyspark.sql import functions as F

    from bioie_llm_spark.operators.curation import contamination_check_bloom

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    assert plan_stats(contamination_check_bloom(docs, bench))["python"] == 0


def test_catalyst_modules_import_no_numpy_or_pandas():
    """The mock-LLM generate in extraction.py is the engine's one Python
    worker (the black-box model contract). Every other package module is
    pure Catalyst: it imports neither numpy nor pandas and names no
    Python-worker operator (mapInPandas, applyInPandas[WithState],
    pandas_udf, udf). Read from the source, so another module's imports
    cannot mask it."""
    import ast

    import bioie_llm_spark

    workers = {"mapInPandas", "applyInPandas", "applyInPandasWithState", "pandas_udf", "udf"}
    root = os.path.dirname(bioie_llm_spark.__file__)
    rels = sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".py")
    )
    assert "extraction.py" in rels and len(rels) > 10
    for rel in rels:
        if rel == "extraction.py":
            continue
        with open(os.path.join(root, rel)) as f:
            tree = ast.parse(f.read())
        imported, named = set(), set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                imported |= {a.name.split(".")[0] for a in node.names}
            elif isinstance(node, ast.ImportFrom):
                if node.module:
                    imported.add(node.module.split(".")[0])
                named |= {a.name for a in node.names}
            elif isinstance(node, ast.Attribute):
                named.add(node.attr)
            elif isinstance(node, ast.Name):
                named.add(node.id)
        assert not imported & {"numpy", "pandas"}, (rel, imported)
        assert not named & workers, (rel, named & workers)
