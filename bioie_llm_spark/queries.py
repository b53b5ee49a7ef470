"""Driver-facing query registry: every implemented operator from
SURVEY.md §2 as a (spark_fn, duckdb_oracle_sql) pair over the driver's
parquet tables at /root/testdata/sf*/.

Conventions (driver compare = row-count + schema + order-insensitive
value-hash, columns sorted by name):
- every computed column aliased identically in Spark and SQL;
- arrays stringified with a sorted ``concat_ws`` (array hash representation
  differs across engines; strings don't);
- floats rounded to 4 decimals on both sides;
- deterministic 'random' = ordering on ``md5(key || ':seed')`` — bit-equal
  in Spark and DuckDB (operators.sampling rationale).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .artifacts import artifact, scale_factor
from .functions.cleaning import extract_choice_expr, match_mentions_expr
from .golden import golden_sql
from .operators.sampling import hash_order_key, seeded_sample, stratified_sample, top_k
from .operators.setops import sort_and_pad

OracleSql = "str | Callable[[], str | None] | None"
Entry = tuple[Callable[[SparkSession, str], DataFrame], OracleSql]
REGISTRY: dict[str, Entry] = {}


def register(name: str, sql):
    """Register a (spark_fn, oracle) pair. ``sql`` may be a literal SQL
    string or a ZERO-ARG CALLABLE returning one: callables are resolved at
    ``all_oracles()`` time, not import time, so oracles that embed the
    materialized-stage root pick up SPARK_GRAFT_ORACLE_SF as set when the
    driver asks for the oracle map (ADVICE r4: an env change after import
    used to be silently ignored)."""

    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def load_fanout(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``load`` + a round-robin fan-out for compute-heavy per-row work, sized
    from the session's parallelism. The driver tables are single files
    with ONE parquet row group, so their scan cannot split below one task
    no matter the split config — a regex/hash-heavy projection then runs
    on 1-2 of N cores (stage profile: every expensive dd_exact stage ran
    with tasks=2 on local[32]). A scan that already yields
    ``defaultParallelism`` splits (a multi-file table) is returned as it
    is: the fan-out would only add a shuffle."""
    df = load(spark, sf_dir, table)
    par = spark.sparkContext.defaultParallelism
    return df if df.rdd.getNumPartitions() >= par else df.repartition(2 * par)


def round_doubles(df: DataFrame, places: int = 4) -> DataFrame:
    """Round every double column — float columns cross the engine-compare
    boundary only after rounding (oracle convention, module docstring)."""
    return df.select(
        *[
            F.round(F.col(f.name), places).alias(f.name)
            if f.dataType.simpleString() == "double"
            else F.col(f.name)
            for f in df.schema
        ]
    )


# ===========================================================================
# KG-construction pipeline queries (SURVEY.md §3; the north_star dataflow),
# registered FIRST: the driver's correctness harness covers the leading 50
# registry entries and this is the flagship chain — in round 1 these sat
# past the cutoff and the heart of the engine went unchecked (VERDICT r1).
#
# The chain is not recomputable in DuckDB (hash-keyed mock-LLM extraction),
# but it IS bit-deterministic at any parallelism (expression-only datagen,
# md5-keyed noise, array_sort'd content — scripts/check_determinism.py
# proves byte-identical triples across local[2]/local[8]). So each query
# returns a compact fully-deterministic result — digests, funnel counts,
# scored metrics — pinned against a committed golden oracle rendered as
# constant VALUES SQL (golden.py; regenerate via scripts/gen_golden.py).
# A hash-match against the pin is exactly as hard a signal as a computed
# oracle: the values reproduce only if the entire pipeline is unchanged.
# The full triple TABLE (not just its digest) is what entry() returns and
# the driver smoke-checks.
#
# The pipeline is memoized per (session, root) AND stage-materialized under
# the kg artifact's root (artifacts.py), so the driver's one-query-at-a-time
# loop (and fresh sessions) never rebuild it.
_KG_CACHE: dict[tuple[int, str], dict] = {}

_KG_MODULES = ("datagen.corpus", "extraction", "pipeline", "sources.checkpoint")


@artifact("kg", _KG_MODULES, staged=True)
def _kg(spark, sf_dir, root):
    """The kg stages (corpus, gazetteer, raw, linked, triples, gold and their
    lineage), each a write-once checkpoint under the root."""
    from .datagen.corpus import CorpusSpec
    from .pipeline import build_triples

    if (id(spark), root) not in _KG_CACHE:
        spec = CorpusSpec.for_scale(scale_factor(sf_dir))
        _KG_CACHE[id(spark), root] = build_triples(spark, spec, out_dir=root)


def _kg_stages(spark: SparkSession, sf_dir: str) -> dict:
    _kg.materialize(spark, sf_dir)
    return _KG_CACHE[id(spark), _kg.root(sf_dir)]


_METRIC_COLS = [
    "n", "accuracy", "micro_precision", "micro_recall", "micro_f1",
    "macro_precision", "macro_recall", "macro_f1",
    "weighted_precision", "weighted_recall", "weighted_f1",
]


_TASK_MODULES = _KG_MODULES + (
    "operators.sampling", "operators.adjacency", "operators.metrics",
    "operators.setops", "functions.prompts", "functions.cleaning",
)


def _task_pairs(task: str, **kw):
    """Artifact of a scored task's (pred, gold) pairs, keyed on every module
    the task dataflow runs through: ``pipeline.<task>`` over the kg stages."""

    @artifact(f"pairs_{task}", _TASK_MODULES)
    def build(spark, sf_dir, out):
        import os

        from . import pipeline

        s = _kg_stages(spark, sf_dir)
        getattr(pipeline, task)(s["triples"], s["facts"], **kw)["pairs"].select(
            "pred", F.col("true").alias("gold")
        ).write.parquet(os.path.join(out, "pairs"))

    return build


# registry row -> the artifact of its pairs
_PAIRS = {
    "kg_entity_task": _task_pairs("entity_task", n_queries=50),
    "kg_relation_task": _task_pairs("relation_task", n_pairs=100),
    "kg_relation_type_task": _task_pairs("relation_type_task", n_per_class=30),
    "kg_kegg_entity_task": _task_pairs("kegg_entity_task", n_pathways=30),
}


def _metrics_with_recompute(spark: SparkSession, sf_dir: str, row: str) -> DataFrame:
    """Scored-task metrics row, HYBRID since r5: the (pred, gold) pairs are
    MATERIALIZED to parquet and every metric value (micro/macro/weighted
    P/R/F1, accuracy, n) is recomputed by the DuckDB oracle from those
    bytes; the only pinned column is ``pairs_hash`` — the xxhash64 content
    hash of the pair multiset, which pins the task's OUTPUT (so a quality
    drop still flips the row red) while no metric number is pinned
    anywhere. The row keeps ``recompute_ok`` — a SECOND, independent
    Spark-SQL formulation (per-class f1 via the 2tp/(2tp+fp+fn) identity)
    agreeing to 1e-9 — so three formulations in two engines must coincide.
    Reading the parquet back also keeps the verification plan flat
    (VERDICT r4 #7: 355 exchanges -> ~10)."""
    import os

    from .operators.metrics import classification_metrics

    view = f"{row}_pairs"
    pairs = spark.read.parquet(os.path.join(_PAIRS[row].materialize(spark, sf_dir), "pairs"))
    metrics = classification_metrics(pairs, true_col="gold")
    hash_row = pairs.agg(
        F.bit_xor(F.xxhash64("pred", "gold")).alias("pairs_hash")
    )
    pairs.createOrReplaceTempView(view)
    rec = spark.sql(f"""
        WITH lab AS (
          SELECT pred AS label FROM {view}
          UNION
          SELECT gold FROM {view}
        ),
        tp AS (SELECT pred AS label, count(*) AS n FROM {view} WHERE pred = gold GROUP BY pred),
        fp AS (SELECT pred AS label, count(*) AS n FROM {view} WHERE pred <> gold GROUP BY pred),
        fn AS (SELECT gold AS label, count(*) AS n FROM {view} WHERE pred <> gold GROUP BY gold),
        per AS (
          SELECT lab.label,
                 coalesce(tp.n, 0) AS tp, coalesce(fp.n, 0) AS fp, coalesce(fn.n, 0) AS fn
          FROM lab LEFT JOIN tp ON lab.label = tp.label
                   LEFT JOIN fp ON lab.label = fp.label
                   LEFT JOIN fn ON lab.label = fn.label
        ),
        cls AS (
          -- cast(... AS DOUBLE) everywhere: a bare 2.0/0.0 literal parses
          -- as DECIMAL in Spark SQL and silently truncates the averages
          SELECT label, tp, fp, fn, tp + fn AS support,
                 CASE WHEN 2 * tp + fp + fn > 0
                      THEN cast(2 * tp AS DOUBLE) / (2 * tp + fp + fn)
                      ELSE cast(0 AS DOUBLE) END AS f,
                 CASE WHEN tp + fp > 0
                      THEN cast(tp AS DOUBLE) / (tp + fp)
                      ELSE cast(0 AS DOUBLE) END AS p,
                 CASE WHEN tp + fn > 0
                      THEN cast(tp AS DOUBLE) / (tp + fn)
                      ELSE cast(0 AS DOUBLE) END AS r
          FROM per
        )
        SELECT CASE WHEN sum(tp) + sum(fp) > 0
                    THEN sum(tp) / cast(sum(tp) + sum(fp) AS DOUBLE)
                    ELSE cast(0 AS DOUBLE) END AS r_micro_p,
               CASE WHEN sum(tp) + sum(fn) > 0
                    THEN sum(tp) / cast(sum(tp) + sum(fn) AS DOUBLE)
                    ELSE cast(0 AS DOUBLE) END AS r_micro_r,
               CASE WHEN 2 * sum(tp) + sum(fp) + sum(fn) > 0
                    THEN cast(2 * sum(tp) AS DOUBLE) / (2 * sum(tp) + sum(fp) + sum(fn))
                    ELSE cast(0 AS DOUBLE) END AS r_micro_f1,
               avg(f) AS r_macro_f1,
               avg(p) AS r_macro_p,
               avg(r) AS r_macro_r,
               CASE WHEN sum(support) > 0
                    THEN sum(support * f) / sum(support)
                    ELSE cast(0 AS DOUBLE) END AS r_weighted_f1,
               CASE WHEN sum(support) > 0
                    THEN sum(support * p) / sum(support)
                    ELSE cast(0 AS DOUBLE) END AS r_weighted_p,
               -- weighted recall via the independent identity
               -- sum(support * tp/support) = sum(tp over supported classes)
               CASE WHEN sum(support) > 0
                    THEN sum(CASE WHEN support > 0
                                  THEN cast(tp AS DOUBLE) ELSE 0 END)
                         / sum(support)
                    ELSE cast(0 AS DOUBLE) END AS r_weighted_r
        FROM cls
    """)
    tol = 1e-9
    agree = (
        (F.abs(F.col("micro_precision") - F.col("r_micro_p")) < tol)
        & (F.abs(F.col("micro_recall") - F.col("r_micro_r")) < tol)
        & (F.abs(F.col("micro_f1") - F.col("r_micro_f1")) < tol)
        & (F.abs(F.col("macro_f1") - F.col("r_macro_f1")) < tol)
        & (F.abs(F.col("weighted_f1") - F.col("r_weighted_f1")) < tol)
        # ADVICE r3: the five averages above left macro/weighted P+R
        # unchecked — a bug confined to those columns passed the invariant
        & (F.abs(F.col("macro_precision") - F.col("r_macro_p")) < tol)
        & (F.abs(F.col("macro_recall") - F.col("r_macro_r")) < tol)
        & (F.abs(F.col("weighted_precision") - F.col("r_weighted_p")) < tol)
        & (F.abs(F.col("weighted_recall") - F.col("r_weighted_r")) < tol)
    )
    n_pairs = pairs.agg(F.count("*").cast("long").alias("n_pairs"))
    joined = metrics.crossJoin(rec).crossJoin(n_pairs).crossJoin(hash_row)
    return round_doubles(
        joined.select(
            *_METRIC_COLS, "n_pairs", "pairs_hash", agree.alias("recompute_ok")
        )
    )


def _task_metrics_oracle(task: str):
    """HYBRID oracle builder for the four scored-task rows (r5): DuckDB
    recomputes EVERY metric (n, accuracy, micro/macro/weighted P/R/F1,
    n_pairs) from the materialized (pred, gold) pairs parquet with the
    engine's exact formulas (per-class f1 = 2pr/(p+r); micro_f1 from the
    micro p/r pair — same float operations, same doubles); the only pinned
    column is pairs_hash, which pins the task's OUTPUT multiset so a
    quality regression still flips the row; recompute_ok is expected
    literal true (the Spark-side independent formulation must agree)."""

    def build() -> str | None:
        import os

        pinned = golden_sql(task)
        if pinned is None:
            return None
        glob = os.path.join(_PAIRS[task].alias(_oracle_sf_dir()), "pairs", "*.parquet")
        return f"""
        WITH v AS (SELECT * FROM read_parquet('{glob}')),
        lab AS (SELECT pred AS label FROM v UNION SELECT gold FROM v),
        tpc AS (SELECT pred AS label, count(*) AS n FROM v WHERE pred = gold GROUP BY pred),
        fpc AS (SELECT pred AS label, count(*) AS n FROM v WHERE pred <> gold GROUP BY pred),
        fnc AS (SELECT gold AS label, count(*) AS n FROM v WHERE pred <> gold GROUP BY gold),
        per AS (
          SELECT lab.label,
                 coalesce(tpc.n, 0) AS tp,
                 coalesce(fpc.n, 0) AS fp,
                 coalesce(fnc.n, 0) AS fn
          FROM lab LEFT JOIN tpc ON lab.label = tpc.label
                   LEFT JOIN fpc ON lab.label = fpc.label
                   LEFT JOIN fnc ON lab.label = fnc.label
        ),
        cls AS (
          SELECT tp, fp, fn, tp + fn AS support,
                 CASE WHEN tp + fp > 0
                      THEN CAST(tp AS DOUBLE) / (tp + fp)
                      ELSE CAST(0 AS DOUBLE) END AS p,
                 CASE WHEN tp + fn > 0
                      THEN CAST(tp AS DOUBLE) / (tp + fn)
                      ELSE CAST(0 AS DOUBLE) END AS r
          FROM per
        ),
        cls2 AS (
          SELECT *, CASE WHEN p + r > 0
                         THEN 2 * p * r / (p + r)
                         ELSE CAST(0 AS DOUBLE) END AS f
          FROM cls
        ),
        mic AS (
          SELECT coalesce(CAST(sum(tp) AS DOUBLE)
                          / nullif(sum(tp) + sum(fp), 0),
                          CAST(0 AS DOUBLE)) AS mp,
                 coalesce(CAST(sum(tp) AS DOUBLE)
                          / nullif(sum(tp) + sum(fn), 0),
                          CAST(0 AS DOUBLE)) AS mr,
                 round(avg(p), 4) AS macro_precision,
                 round(avg(r), 4) AS macro_recall,
                 round(avg(f), 4) AS macro_f1,
                 round(coalesce(sum(support * p)
                                / nullif(CAST(sum(support) AS DOUBLE), 0),
                                CAST(0 AS DOUBLE)), 4) AS weighted_precision,
                 round(coalesce(sum(support * r)
                                / nullif(CAST(sum(support) AS DOUBLE), 0),
                                CAST(0 AS DOUBLE)), 4) AS weighted_recall,
                 round(coalesce(sum(support * f)
                                / nullif(CAST(sum(support) AS DOUBLE), 0),
                                CAST(0 AS DOUBLE)), 4) AS weighted_f1
          FROM cls2
        ),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_pairs,
                 round(avg(CASE WHEN pred = gold
                                THEN CAST(1 AS DOUBLE)
                                ELSE CAST(0 AS DOUBLE) END), 4) AS accuracy
          FROM v
        )
        SELECT tot.n, tot.accuracy,
               round(mic.mp, 4) AS micro_precision,
               round(mic.mr, 4) AS micro_recall,
               round(coalesce(2 * mic.mp * mic.mr / nullif(mic.mp + mic.mr, 0),
                              CAST(0 AS DOUBLE)), 4) AS micro_f1,
               mic.macro_precision, mic.macro_recall, mic.macro_f1,
               mic.weighted_precision, mic.weighted_recall, mic.weighted_f1,
               tot.n_pairs, g.pairs_hash, true AS recompute_ok
        FROM tot, mic, ({pinned}) AS g
        """

    return build


def _kg_triples_oracle() -> str | None:
    """Hybrid oracle (r4): DuckDB COMPUTES the five cardinality/sum columns
    from the materialized triples parquet (pred restored from the Hive
    partition dirs); only the Spark-specific xxhash64 content hash stays
    pinned (sourced from the same golden file)."""
    import os

    pinned = golden_sql("kg_triples")
    if pinned is None:
        return None
    root = _kg.alias(_oracle_sf_dir())
    glob = os.path.join(root, "triples", "snapshot=snap-000", "*", "*.parquet")
    return f"""
    WITH t AS (SELECT * FROM read_parquet('{glob}', hive_partitioning = 1)),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triples,
             CAST(count(DISTINCT subj) AS BIGINT) AS n_subj,
             CAST(count(DISTINCT pred) AS BIGINT) AS n_pred,
             CAST(count(DISTINCT obj) AS BIGINT) AS n_obj,
             CAST(sum(n_sources) AS BIGINT) AS total_sources
      FROM t
    )
    SELECT agg.*, g.content_hash
    FROM agg, (SELECT content_hash FROM ({pinned}) AS p) AS g
    """


@register("kg_triples", _kg_triples_oracle)
def kg_triples(spark, sf_dir):
    """Flagship-output digest: cardinalities + order-insensitive xxhash64
    content hash of the linked, deduped triple table. Counts/sums verified
    by DuckDB against the materialized parquet; the hash is the pinned
    golden. The full table is entry()'s return value."""
    t = _kg_stages(spark, sf_dir)["triples"]
    return t.agg(
        F.count("*").cast("long").alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("pred").alias("n_pred"),
        F.countDistinct("obj").alias("n_obj"),
        F.sum("n_sources").cast("long").alias("total_sources"),
        F.bit_xor(
            F.xxhash64("subj", "pred", "obj", "n_sources", "source_sha256")
        ).alias("content_hash"),
    )


def _kg_triple_pr_oracle() -> str:
    """Fully COMPUTED oracle (r4): DuckDB re-derives the BASELINE-graded
    triple P/R from the materialized triples + facts parquet — distinct
    (subj, pred, obj) on both sides, inner-join match count, identical
    round-then-threshold semantics. The flagship quality grade is now
    cross-engine-verified, not pinned."""
    import os

    root = _kg.alias(_oracle_sf_dir())
    t_glob = os.path.join(root, "triples", "snapshot=snap-000", "*", "*.parquet")
    f_glob = os.path.join(root, "gold", "snapshot=snap-000", "*.parquet")
    return f"""
    WITH e AS (
      SELECT DISTINCT subj, pred, obj
      FROM read_parquet('{t_glob}', hive_partitioning = 1)
    ),
    g AS (SELECT DISTINCT subj, pred, obj FROM read_parquet('{f_glob}')),
    c AS (
      SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_extracted,
             CAST((SELECT count(*) FROM g) AS BIGINT) AS n_gold,
             CAST((SELECT count(*) FROM e JOIN g USING (subj, pred, obj))
                  AS BIGINT) AS n_matched
    ),
    pr AS (
      SELECT *,
             coalesce(CAST(n_matched AS DOUBLE) / nullif(n_extracted, 0),
                      CAST(0.0 AS DOUBLE)) AS p_raw,
             coalesce(CAST(n_matched AS DOUBLE) / nullif(n_gold, 0),
                      CAST(0.0 AS DOUBLE)) AS r_raw
      FROM c
    )
    SELECT n_extracted, n_gold, n_matched,
           round(p_raw, 4) AS "precision",
           round(r_raw, 4) AS recall,
           round(coalesce(2 * p_raw * r_raw / nullif(p_raw + r_raw, 0),
                          CAST(0.0 AS DOUBLE)), 4) AS f1,
           -- the booleans are EXPECTED true, not re-derived: deriving them
           -- from the same parquet would let a quality regression go green
           -- on both sides; this way a drop below the 0.95 floor flips the
           -- Spark booleans against the oracle's `true` and the driver row
           -- goes red (the numeric P/R columns above stay recomputed)
           true AS pass_precision,
           true AS pass_recall
    FROM pr
    """


@register("kg_triple_pr", _kg_triple_pr_oracle)
def kg_triple_pr(spark, sf_dir):
    """Triple-set P/R vs gold (the BASELINE.json >=0.95 grade) with the
    thresholds asserted as booleans in the row itself. Computed DuckDB
    oracle over the materialized triples + facts parquet (r4)."""
    from .operators.metrics import triple_pr

    s = _kg_stages(spark, sf_dir)
    pr = triple_pr(s["triples"], s["facts"])
    return round_doubles(pr).select(
        "*",
        (F.col("precision") >= 0.95).alias("pass_precision"),
        (F.col("recall") >= 0.95).alias("pass_recall"),
    )


@register("kg_entity_task", _task_metrics_oracle("kg_entity_task"))
def kg_entity_task(spark, sf_dir):
    """EP1 scored metrics (full §2.8 chain: few-shot prompt -> generate ->
    strip -> F1 matcher -> sort_and_pad -> positional micro/macro/weighted
    F1), J5 positional alignment included; recompute_ok carries the
    independent-formulation agreement invariant."""
    return _metrics_with_recompute(spark, sf_dir, "kg_entity_task")


@register("kg_relation_task", _task_metrics_oracle("kg_relation_task"))
def kg_relation_task(spark, sf_dir):
    return _metrics_with_recompute(spark, sf_dir, "kg_relation_task")


@register("kg_relation_type_task", _task_metrics_oracle("kg_relation_type_task"))
def kg_relation_type_task(spark, sf_dir):
    return _metrics_with_recompute(spark, sf_dir, "kg_relation_type_task")


@register("kg_kegg_entity_task", _task_metrics_oracle("kg_kegg_entity_task"))
def kg_kegg_entity_task(spark, sf_dir):
    """KEGG task incl. alias-projection semantics (P4); recompute_ok as in
    kg_entity_task."""
    return _metrics_with_recompute(spark, sf_dir, "kg_kegg_entity_task")


def _oracle_sf_dir() -> str:
    """The sf dir the DuckDB oracles read materialized stages from. The
    driver's correctness gate runs at sf0.01; SPARK_GRAFT_ORACLE_SF
    overrides for local runs at other scales. Read at oracle-BUILD time
    (all_oracles resolves lazy callables), never baked at import — and
    entry() pre-materializes the same root (ADVICE r4 lockstep fix)."""
    import os

    return os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def _lineage_glob() -> str:
    """DuckDB-readable glob over the materialized lineage parquet for the
    oracle sf. The files exist by oracle time because entry() and the
    registry's leading kg_* Spark queries materialize the stages first."""
    import os

    return os.path.join(_kg.alias(_oracle_sf_dir()), "_lineage", "*", "*", "*.parquet")


# kg_funnel / kg_lineage oracles are COMPUTED (VERDICT r3 #3), not pinned:
# DuckDB re-aggregates the per-partition lineage parquet the pipeline wrote
# — an independent engine recomputing the funnel counts, stage totals, and
# xor-combined content hashes from the same audit trail. CAST sums to
# BIGINT (DuckDB types sum() as HUGEINT; repo convention).
def _kg_funnel_oracle() -> str:
    # nullif guards the zero-mention case: DuckDB's x/0 is inf, not NULL,
    # which coalesce would pass through — Spark's try_divide yields NULL
    # (ADVICE r4); nullif restores the NULL -> coalesce -> 0.0 path.
    return f"""
    WITH lin AS (
      SELECT stage, n_rows
      FROM read_parquet('{_lineage_glob()}', hive_partitioning = 1)
    ),
    agg AS (
      SELECT
        CAST(sum(CASE WHEN stage = 'corpus' THEN n_rows END) AS BIGINT) AS n_files,
        CAST(sum(CASE WHEN stage = 'raw' THEN n_rows END) AS BIGINT) AS n_raw_mentions,
        CAST(sum(CASE WHEN stage = 'linked' THEN n_rows END) AS BIGINT) AS n_linked,
        CAST(sum(CASE WHEN stage = 'triples' THEN n_rows END) AS BIGINT) AS n_triples
      FROM lin
    )
    SELECT n_files, n_raw_mentions, n_linked, n_triples,
           round(coalesce(CAST(n_linked AS DOUBLE) / nullif(n_raw_mentions, 0),
                          CAST(0.0 AS DOUBLE)), 4) AS link_rate
    FROM agg
    """


@register("kg_funnel", _kg_funnel_oracle)
def kg_funnel(spark, sf_dir):
    """Extraction funnel: corpus files -> raw mentions -> linked -> distinct
    triples, derived from the LINEAGE of the materialized stages — the
    extraction UDF runs exactly once per pipeline build (it used to be
    re-executed per count; VERDICT r1 #4)."""
    from .sources.checkpoint import read_lineage

    _kg_stages(spark, sf_dir)  # ensure stages + lineage exist
    lin = read_lineage(spark, _kg.root(sf_dir))

    def stage_n(stage):
        return F.sum(F.when(F.col("stage") == stage, F.col("n_rows"))).cast("long")

    return lin.agg(
        stage_n("corpus").alias("n_files"),
        stage_n("raw").alias("n_raw_mentions"),
        stage_n("linked").alias("n_linked"),
        stage_n("triples").alias("n_triples"),
    ).withColumn(
        "link_rate",
        F.round(
            F.coalesce(F.try_divide("n_linked", "n_raw_mentions"), F.lit(0.0)), 4
        ),
    )


def _kg_lineage_oracle() -> str:
    return f"""
    SELECT stage,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           bit_xor(content_hash) AS content_hash
    FROM read_parquet('{_lineage_glob()}', hive_partitioning = 1)
    GROUP BY stage
    ORDER BY stage
    """


@register("kg_lineage", _kg_lineage_oracle)
def kg_lineage(spark, sf_dir):
    """Per-stage lineage digest of the materialized pipeline. Aggregated to
    stage granularity because per-partition rows depend on write-time
    parallelism; the xor-combined content hash does not (xor of per-
    partition bit_xor(xxhash64(row)) = global row xor)."""
    from .sources.checkpoint import read_lineage

    _kg_stages(spark, sf_dir)
    return (
        read_lineage(spark, _kg.root(sf_dir))
        .groupBy("stage")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.bit_xor("content_hash").alias("content_hash"),
        )
        .orderBy("stage")
    )


def _kg_hot_predicates_oracle() -> str:
    """Fully COMPUTED oracle (r4): DuckDB re-derives the heavy-hitter rows
    (pred, count, frac at the 5% threshold) from the materialized triples
    parquet; the salted path must agree with the plain count (n_salted =
    n_plain) and every engine-computed invariant boolean must hold, so the
    oracle expects them true."""
    import os

    root = _kg.alias(_oracle_sf_dir())
    glob = os.path.join(root, "triples", "snapshot=snap-000", "*", "*.parquet")
    return f"""
    WITH t AS (
      SELECT pred FROM read_parquet('{glob}', hive_partitioning = 1)
    ),
    tot AS (SELECT count(*) AS n FROM t),
    hot AS (
      SELECT pred, CAST(count(*) AS BIGINT) AS n_plain
      FROM t GROUP BY pred
      HAVING count(*) >= 0.05 * (SELECT n FROM tot)
    )
    SELECT pred, n_plain, n_plain AS n_salted,
           round(CAST(n_plain AS DOUBLE) / (SELECT n FROM tot), 4) AS frac,
           true AS salted_agrees, true AS salted_eq_ok, true AS skew_bound_ok
    FROM hot
    """


@register("kg_hot_predicates", _kg_hot_predicates_oracle)
def kg_hot_predicates(spark, sf_dir):
    """Skew introspection over the triple table: heavy-hitter predicates
    (drives salting decisions) + salted per-predicate counts.

    Computed invariants inside the pin (VERDICT r3 #8 — the whole
    operators/skew toolkit under the hard driver signal, no new registry
    slot):

    - ``salted_eq_ok``: salted_count AND salted_collect_set agree with the
      plain single-shuffle groupBy for EVERY predicate (full outer join —
      a key lost or invented by the two-phase salted path flips it);
    - ``skew_bound_ok``: every reported hot key's count really exceeds
      threshold*total, their combined mass is <= total, and there are at
      most floor(1/threshold) of them — recomputed from the table, not
      trusted from broadcast_hot_keys.
    """
    from .operators.skew import broadcast_hot_keys, salted_collect_set, salted_count

    t = _kg_stages(spark, sf_dir)["triples"]
    threshold = 0.05
    hot = broadcast_hot_keys(t, ["pred"], threshold_frac=threshold).withColumnRenamed(
        "n", "n_plain"
    )
    salted = salted_count(t, ["pred"]).withColumnRenamed("n", "n_salted")

    plain = t.groupBy("pred").agg(
        F.count("*").alias("n_ref"),
        F.array_sort(F.collect_set("obj")).alias("obj_ref"),
    )
    salted_set = salted_collect_set(t, ["pred"], "obj")
    eq = (
        plain.join(salted, "pred", "full")
        .join(salted_set, "pred", "full")
        .agg(
            (
                F.count(
                    F.when(
                        F.col("n_ref").isNull()
                        | F.col("n_salted").isNull()
                        # explicit null terms: (a != b) is NULL when either
                        # side is NULL, and when(NULL) doesn't fire — a key
                        # dropped ONLY by salted_collect_set must still flip
                        | F.col("obj_ref").isNull()
                        | F.col("obj_set").isNull()
                        | (F.col("n_ref") != F.col("n_salted"))
                        | (F.col("obj_ref") != F.col("obj_set")),
                        1,
                    )
                )
                == 0
            ).alias("salted_eq_ok")
        )
    )
    total = t.agg(F.count("*").alias("n_total"))
    bound = (
        hot.crossJoin(total)
        .agg(
            (
                (F.count(F.when(F.col("n_plain") < threshold * F.col("n_total"), 1)) == 0)
                & (F.coalesce(F.sum("n_plain"), F.lit(0)) <= F.first("n_total"))
                & (F.count("*") <= int(1 / threshold))
            ).alias("skew_bound_ok")
        )
    )
    return (
        hot.join(salted, "pred")
        .select(
            "pred", "n_plain", "n_salted", F.round("frac", 4).alias("frac"),
            (F.col("n_plain") == F.col("n_salted")).alias("salted_agrees"),
        )
        .crossJoin(eq)
        .crossJoin(bound)
    )


@artifact("canon", _KG_MODULES + ("operators.canonical", "operators.dedup"))
def _canon(spark, sf_dir, out):
    """The canonicalization outputs: ``mapping/`` (name, canonical_id) and
    ``remapped/`` (subj, pred, obj, source_sha256) — the cross-engine
    artifacts BOTH the Spark digest and the DuckDB oracle recompute
    counts/closure from (VERDICT r4 #6)."""
    import os

    from .operators.canonical import canonicalize_entities, canonicalize_triples

    t = _kg_stages(spark, sf_dir)["triples"]
    names = (
        t.select(F.col("subj").alias("name"))
        .unionByName(t.select(F.col("obj").alias("name")))
        .distinct()
    )
    canonicalize_entities(names).write.parquet(os.path.join(out, "mapping"))
    mapping = spark.read.parquet(os.path.join(out, "mapping"))
    canonicalize_triples(
        t.select("subj", "pred", "obj", "source_sha256"), mapping
    ).distinct().write.parquet(os.path.join(out, "remapped"))


def _kg_canonicalize_oracle() -> str | None:
    """HYBRID oracle (r5): DuckDB recomputes every count AND the closure /
    idempotency invariants from the materialized mapping + remapped parquet
    (an independent engine re-verifying the connected-components fixpoint);
    only the two xxhash64 content hashes stay pinned."""
    import os

    pinned = golden_sql("kg_canonicalize")
    if pinned is None:
        return None
    root = _canon.alias(_oracle_sf_dir())
    m_glob = os.path.join(root, "mapping", "*.parquet")
    t_glob = os.path.join(root, "remapped", "*.parquet")
    return f"""
    WITH m AS (SELECT * FROM read_parquet('{m_glob}')),
    c AS (SELECT * FROM read_parquet('{t_glob}')),
    magg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_names,
             CAST(count(DISTINCT canonical_id) AS BIGINT) AS n_canonical
      FROM m
    ),
    cagg AS (SELECT CAST(count(*) AS BIGINT) AS n_canonical_triples FROM c),
    fix AS (
      SELECT
        (sum(CASE WHEN m2.name IS NULL THEN 1 ELSE 0 END) = 0) AS closed_ok,
        (sum(CASE WHEN m2.canonical_id <> ids.canonical_id
                  THEN 1 ELSE 0 END) = 0) AS idempotent_ok
      FROM (SELECT DISTINCT canonical_id FROM m) ids
      LEFT JOIN m m2 ON ids.canonical_id = m2.name
    )
    SELECT magg.n_names, magg.n_canonical, g.map_hash,
           cagg.n_canonical_triples, g.triples_hash,
           fix.closed_ok, fix.idempotent_ok
    FROM magg, cagg, fix, ({pinned}) AS g
    """


@register("kg_canonicalize", _kg_canonicalize_oracle)
def kg_canonicalize(spark, sf_dir):
    """Canonicalization applied to the real output table: surface-name ->
    canonical-id mapping (normalized-name + Jaccard + connected components)
    and the remapped triple table. Digest computed from the MATERIALIZED
    parquet both engines read: counts + closure/idempotency recomputed by
    DuckDB, xxhash64 hashes pinned (hybrid, VERDICT r4 #6)."""
    root = _canon.materialize(spark, sf_dir)
    mapping = spark.read.parquet(f"{root}/mapping")
    remapped = spark.read.parquet(f"{root}/remapped")
    m = mapping.agg(
        F.count("*").cast("long").alias("n_names"),
        F.countDistinct("canonical_id").alias("n_canonical"),
        F.bit_xor(F.xxhash64("name", "canonical_id")).alias("map_hash"),
    )
    c = remapped.agg(
        F.count("*").cast("long").alias("n_canonical_triples"),
        F.bit_xor(F.xxhash64("subj", "pred", "obj", "source_sha256")).alias(
            "triples_hash"
        ),
    )
    # the mapping must be IDEMPOTENT (every canonical_id maps to itself)
    # and CLOSED (every canonical_id is itself a mapped name); since r5 the
    # ORACLE recomputes these from the parquet, so a clustering bug is
    # caught by an independent engine, not just by these booleans.
    m2 = mapping.select(
        F.col("name").alias("canonical_id"), F.col("canonical_id").alias("canon2")
    )
    fixpoints = (
        mapping.select("canonical_id")
        .distinct()
        .join(m2, "canonical_id", "left")
        .agg(
            (F.count(F.when(F.col("canon2").isNull(), 1)) == 0).alias("closed_ok"),
            (
                F.count(
                    F.when(F.col("canon2") != F.col("canonical_id"), 1)
                ) == 0
            ).alias("idempotent_ok"),
        )
    )
    return m.crossJoin(c).crossJoin(fixpoints)


# ---------------------------------------------------------------------------
# A1 — symmetric adjacency build (string_reader.py:112-120): part-supplier
# bipartite edges -> per-node sorted interactor list. One union + one hash
# agg; at scale the shuffle is on node keys only, map-side combined.
@register(
    "a1_symmetric_adjacency",
    """
    WITH e AS (
      SELECT DISTINCT 'p' || l_partkey AS a, 's' || l_suppkey AS b FROM lineitem
    ),
    sym AS (
      SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b AS node, a AS nbr FROM e
    )
    SELECT node,
           array_to_string(list_sort(list(DISTINCT nbr)), ',') AS interactors,
           count(DISTINCT nbr) AS degree
    FROM sym GROUP BY node
    """,
)
def a1_symmetric_adjacency(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    # distinct on the raw int keys, concat AFTER: the "p"/"s" prefixes are
    # injective, so the distinct set is the same, but the partial aggregate
    # hashes 2 ints instead of 2 strings and the exchange moves ~half the
    # bytes (guide §2.3 narrower types; measured 3.9s -> 2.8s at sf1.0)
    e = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("p"), "l_partkey").alias("a"),
            F.concat(F.lit("s"), "l_suppkey").alias("b"),
        )
    )
    sym = e.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        e.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    return sym.groupBy("node").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("nbr"))).alias("interactors"),
        F.countDistinct("nbr").alias("degree"),
    )


# A2 — grouped membership (kegg_reader.py:141-150): nation -> sorted supplier
# name list.
@register(
    "a2_group_membership",
    """
    SELECT n.n_name AS nation,
           array_to_string(list_sort(list(DISTINCT s.s_name)), ',') AS members,
           count(DISTINCT s.s_name) AS n_members
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def a2_group_membership(spark, sf_dir):
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("s_name"))).alias("members"),
            F.countDistinct("s_name").alias("n_members"),
        )
    )


# A5 — per-class tp/fp/fn + derived P/R/F1 + support feeding micro/macro/
# weighted F1 (evaluator.py:10-31); `n_pred` is A11's class distribution
# (per-class prediction counts) folded into the same rows.
# pred = event_type; true = deterministic relabel (every 3rd user 'click').
_A5_TRUE_SQL = "CASE WHEN user_id % 3 = 0 THEN 'click' ELSE event_type END"


@register(
    "a5_per_class_counts",
    f"""
    WITH pairs AS (
      SELECT event_type AS pred, {_A5_TRUE_SQL} AS true_label FROM events
    ),
    labels AS (
      SELECT DISTINCT pred AS label FROM pairs
      UNION SELECT DISTINCT true_label FROM pairs
    ),
    counts AS (
      SELECT l.label AS label,
             cast(coalesce(sum(CASE WHEN p.pred = l.label AND p.true_label = l.label THEN 1 END), 0) AS BIGINT) AS tp,
             cast(coalesce(sum(CASE WHEN p.pred = l.label AND p.true_label <> l.label THEN 1 END), 0) AS BIGINT) AS fp,
             cast(coalesce(sum(CASE WHEN p.true_label = l.label AND p.pred <> l.label THEN 1 END), 0) AS BIGINT) AS fn
      FROM labels l LEFT JOIN pairs p
        ON p.pred = l.label OR p.true_label = l.label
      GROUP BY l.label
    )
    SELECT label, tp, fp, fn,
           tp + fn AS support, tp + fp AS n_pred,
           round(CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END, 4) AS precision,
           round(CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END, 4) AS recall,
           round(CASE WHEN 2 * tp + fp + fn > 0 THEN 2.0 * tp / (2 * tp + fp + fn) ELSE 0.0 END, 4) AS f1
    FROM counts
    """,
)
def a5_per_class_counts(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    pairs = ev.select(
        F.col("event_type").alias("pred"),
        F.when(F.col("user_id") % 3 == 0, "click")
        .otherwise(F.col("event_type"))
        .alias("true_label"),
    )
    labels = (
        pairs.select(F.col("pred").alias("label"))
        .union(pairs.select("true_label"))
        .distinct()
    )
    p, t = F.col("pred"), F.col("true_label")
    tp = pairs.filter(p == t).groupBy(p.alias("label")).agg(F.count("*").alias("tp"))
    fp = pairs.filter(p != t).groupBy(p.alias("label")).agg(F.count("*").alias("fp"))
    fn = pairs.filter(p != t).groupBy(t.alias("label")).agg(F.count("*").alias("fn"))
    counts = (
        labels.join(tp, "label", "left")
        .join(fp, "label", "left")
        .join(fn, "label", "left")
        .fillna(0, subset=["tp", "fp", "fn"])
    )
    # f1 via the 2tp/(2tp+fp+fn) identity: one guarded division, same
    # float ops in both engines -> bit-identical before rounding
    return counts.select(
        "label", "tp", "fp", "fn",
        (F.col("tp") + F.col("fn")).alias("support"),
        (F.col("tp") + F.col("fp")).alias("n_pred"),
        F.round(
            F.coalesce(F.try_divide("tp", F.col("tp") + F.col("fp")), F.lit(0.0)), 4
        ).alias("precision"),
        F.round(
            F.coalesce(F.try_divide("tp", F.col("tp") + F.col("fn")), F.lit(0.0)), 4
        ).alias("recall"),
        F.round(
            F.coalesce(
                F.try_divide(
                    2 * F.col("tp"), 2 * F.col("tp") + F.col("fp") + F.col("fn")
                ),
                F.lit(0.0),
            ),
            4,
        ).alias("f1"),
    )


# A6 + A10 — confusion matrix, wide/pivoted form (evaluator.py:135-159
# heatmap input; the long form is the pivot's own intermediate groupBy),
# carrying A6's full-match count (generative_task_evaluator.py:88-110) over
# the SAME (pred, true) pairs: a user counts as a full match iff every one
# of their events is predicted correctly — the operators.metrics
# full_matches aggregate cross-joined onto the pivot rows. (Merged from two
# standalone queries — registry is capped at 50 driver-checked rows.)
@register(
    "a6_a10_confusion",
    f"""
    WITH pairs AS (
      SELECT user_id, event_type AS pred, {_A5_TRUE_SQL} AS true_label FROM events
    ),
    fm AS (
      SELECT cast(coalesce(sum(allc), 0) AS BIGINT) AS full_match_count,
             count(*) AS query_count
      FROM (SELECT user_id, min(CASE WHEN pred = true_label THEN 1 ELSE 0 END) AS allc
            FROM pairs GROUP BY user_id)
    ),
    conf AS (
      SELECT true_label,
             cast(coalesce(sum(CASE WHEN pred = 'click' THEN 1 END), 0) AS BIGINT) AS click,
             cast(coalesce(sum(CASE WHEN pred = 'view' THEN 1 END), 0) AS BIGINT) AS view,
             cast(coalesce(sum(CASE WHEN pred = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
             cast(coalesce(sum(CASE WHEN pred = 'error' THEN 1 END), 0) AS BIGINT) AS error
      FROM pairs GROUP BY true_label
    )
    SELECT conf.*, fm.full_match_count, fm.query_count FROM conf CROSS JOIN fm
    """,
)
def a6_a10_confusion(spark, sf_dir):
    from .operators.metrics import full_matches

    ev = load(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id",
        F.col("event_type").alias("pred"),
        F.when(F.col("user_id") % 3 == 0, "click")
        .otherwise(F.col("event_type"))
        .alias("true_label"),
    )
    conf = (
        pairs.groupBy("true_label")
        .pivot("pred", ["click", "view", "purchase", "error"])
        .count()
        .fillna(0, subset=["click", "view", "purchase", "error"])
    )
    fm = full_matches(pairs, src_col="user_id", pred_col="pred", true_col="true_label")
    return conf.crossJoin(fm)


# ---------------------------------------------------------------------------
# J1 — broadcast dimension lookup (string_reader.py:109-110): the entity-
# linking join shape. Explicit broadcast hints; filter pushed to the scan.
@register(
    "j1_broadcast_lookup",
    """
    SELECT l.l_orderkey, l.l_linenumber, p.p_name, s.s_name
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE l.l_quantity > 45
    """,
)
def j1_broadcast_lookup(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select("l_orderkey", "l_linenumber", "p_name", "s_name")
    )


# (J3's standalone anti-join query was folded into j3_j4_anti_negatives —
# registry is capped at 50 driver-checked rows.)


# J6 + A9 — n-way ensemble join + consensus vote in one per-src vote-stats
# pass (binary_task_evaluator.py:64-83): three pseudo-models vote per user;
# keep srcs answered by all three models (J6's ensemble-complete set) OR
# unanimous across all their events (A9's consensus set, vote = the single
# agreed prediction, null otherwise).
@register(
    "j6_a9_vote_stats",
    """
    WITH votes AS (
      SELECT user_id AS src, event_id % 3 AS model, event_type AS pred FROM events
    ),
    per AS (
      SELECT src,
             count(DISTINCT model) AS n_models,
             count(DISTINCT pred) AS n_preds,
             count(*) AS n_events,
             min(pred) AS min_pred
      FROM votes GROUP BY src
    )
    SELECT src, n_models, n_preds, n_events,
           CASE WHEN n_preds = 1 THEN min_pred END AS vote
    FROM per WHERE n_models = 3 OR n_preds = 1
    """,
)
def j6_a9_vote_stats(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    votes = ev.select(
        F.col("user_id").alias("src"),
        (F.col("event_id") % 3).alias("model"),
        F.col("event_type").alias("pred"),
    )
    return (
        votes.groupBy("src")
        .agg(
            F.countDistinct("model").alias("n_models"),
            F.countDistinct("pred").alias("n_preds"),
            F.count("*").alias("n_events"),
            F.min("pred").alias("min_pred"),
        )
        .filter((F.col("n_models") == 3) | (F.col("n_preds") == 1))
        .select(
            "src", "n_models", "n_preds", "n_events",
            F.when(F.col("n_preds") == 1, F.col("min_pred")).alias("vote"),
        )
    )


# J7 — positional equi-join of two ordered streams (result_comparer.py:113-116).
@register(
    "j7_positional_join",
    """
    WITH a AS (
      SELECT row_number() OVER (ORDER BY o_orderkey) AS pos, o_orderkey
      FROM orders WHERE o_orderstatus = 'O'
    ),
    b AS (
      SELECT row_number() OVER (ORDER BY o_orderkey) AS pos, o_orderkey
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT a.pos AS pos, a.o_orderkey AS key_a, b.o_orderkey AS key_b
    FROM a JOIN b ON a.pos = b.pos
    """,
)
def j7_positional_join(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = Window.orderBy("o_orderkey")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.row_number().over(w).alias("pos"), F.col("o_orderkey").alias("key_a")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.row_number().over(w).alias("pos"), F.col("o_orderkey").alias("key_b")
    )
    return a.join(b, "pos").select("pos", "key_a", "key_b")


# ---------------------------------------------------------------------------
# T2 + T5 + T4 — the deterministic-sampling family in one labeled frame
# (merged from the former t2_seeded_sample + t4_stratified_sample rows —
# 50-entry driver cap; the two halves stay independently checked because
# each kind's rows are computed by a different operator):
# - 'seeded' (string_processor.py:105, 59): md5-ordered take-100 over
#   orders with the seeded-shuffle rank (T5) of each sampled row — one
#   TakeOrdered plus a 100-row window, no global sort of the full table;
# - 'stratified' (indra_processor.py:147-149): 50 per event_type via one
#   window shuffle on the stratum key, carrying the within-stratum rank.
@register(
    "t2_t4_sampling",
    """
    (SELECT 'seeded' AS kind, CAST(o_orderkey AS VARCHAR) AS key,
            CAST(o_custkey AS VARCHAR) AS grp,
            row_number() OVER (ORDER BY md5(o_orderkey || '|42')) AS rn
     FROM orders
     ORDER BY md5(o_orderkey || '|42') LIMIT 100)
    UNION ALL
    SELECT 'stratified' AS kind, CAST(event_id AS VARCHAR) AS key,
           event_type AS grp, rn
    FROM (
      SELECT event_id, event_type,
             row_number() OVER (
               PARTITION BY event_type ORDER BY md5(event_id || '|42')
             ) AS rn
      FROM events
    ) WHERE rn <= 50
    """,
)
def t2_t4_sampling(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    seeded = (
        seeded_sample(o, ["o_orderkey"], 100)
        .select("o_orderkey", "o_custkey")
        .select(
            F.lit("seeded").alias("kind"),
            F.col("o_orderkey").cast("string").alias("key"),
            F.col("o_custkey").cast("string").alias("grp"),
            F.row_number()
            .over(Window.orderBy(hash_order_key(["o_orderkey"])))
            .alias("rn"),
        )
    )
    # fan out the events leg only: the md5 window key is otherwise computed
    # inside the 1-2 task scan stage before the 5-key stratum exchange
    # (measured 2.8s -> 1.5s); the orders leg stays raw — TakeOrdered on the
    # scan beats paying a repartition of the whole table (measured A/B)
    ev = load_fanout(spark, sf_dir, "events")
    strat = stratified_sample(
        ev, "event_type", ["event_id"], 50, rank_col="rn"
    ).select(
        F.lit("stratified").alias("kind"),
        F.col("event_id").cast("string").alias("key"),
        F.col("event_type").alias("grp"),
        "rn",
    )
    return seeded.unionByName(strat)


# T3/T7 + T1 — global top-k slice (kegg_reader.py:98-104) carrying its
# deterministic rank (string_processor.py:152, 180): the rank column over
# the 100-row slice equals the global rank because top_k returns exactly
# the global top-100 under the same ordering. (Absorbed the former
# standalone t1_rank query — registry is capped at 50 driver-checked rows.)
@register(
    "t3_topk",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS price,
           cast(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def t3_topk(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    top = top_k(
        o.select("o_orderkey", F.round("o_totalprice", 2).alias("price"), "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        100,
    )
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")))
        .cast("bigint"),
    ).drop("o_totalprice")


# ---------------------------------------------------------------------------
# F1 + U1 — the reference's scoring prep as one chained query: boundary-
# aware mention matching (base_processor.py:1266-1298) feeding sort_and_pad
# (base_processor.py:1571-1595) — pred list = matched gazetteer terms, true
# list = words 4..9 of the document; k=5, stringified output.
_F1_TERMS = ["spark", "vector", "query", "batch"]


@register(
    "f1_u1_match_pad",
    f"""
    WITH arrs AS (
      SELECT doc_id,
             list_filter({_F1_TERMS!r},
               t -> regexp_matches(text, '(^|[^A-Za-z0-9_-])' || t || '([^A-Za-z0-9_-]|$)')) AS p,
             list_distinct(list_slice(string_split(text, ' '), 4, 9)) AS t
      FROM documents
    ),
    parts AS (
      SELECT doc_id, p,
             list_sort(list_filter(p, x -> list_contains(t, x))) AS common,
             list_sort(list_filter(p, x -> NOT list_contains(t, x))) AS p_rest,
             list_sort(list_filter(t, x -> NOT list_contains(p, x))) AS t_rest
      FROM arrs
    ),
    outp AS (
      SELECT doc_id, p,
             list_slice(list_concat(common, p_rest), 1, 5) AS p_k,
             list_slice(list_concat(common, t_rest), 1, 5) AS t_k
      FROM parts
    )
    SELECT doc_id,
           array_to_string(p, ',') AS mentions,
           array_to_string(
             list_concat(
               p_k,
               CASE WHEN len(t_k) > len(p_k)
                    THEN list_transform(range(len(t_k) - len(p_k)), x -> 'NONE')
                    ELSE [] END
             ), ',') AS pred_k,
           array_to_string(t_k, ',') AS true_k
    FROM outp
    """,
)
def f1_u1_match_pad(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    matched = match_mentions_expr(F.col("text"), F.lit(_F1_TERMS))
    # separate projection: `m` is referenced by mentions AND sort_and_pad —
    # a multi-use non-trivial alias must be its own projection (CollapseProject)
    arrs = d.select(
        "doc_id",
        matched.alias("m"),
        F.slice(F.split(F.col("text"), " "), 4, 6).alias("t"),
    )
    p_out, t_out = sort_and_pad(F.col("m"), F.col("t"), 5)
    return arrs.select(
        "doc_id",
        F.concat_ws(",", "m").alias("mentions"),
        F.concat_ws(",", p_out).alias("pred_k"),
        F.concat_ws(",", t_out).alias("true_k"),
    )


# F2 + F3 + P7 — both choice extractors side by side (token-normalized F2,
# base:1336-1345; substring-containment kbase F3, base:1309-1332) plus P7's
# mention-uniqueness predicate ('data' occurs exactly once,
# indra_reader.py:72) as a column.
@register(
    "f2_choice_extract",
    """
    WITH prep AS (SELECT doc_id, text, lower(text) AS lt FROM documents),
    hits AS (
      SELECT doc_id, text,
             list_filter(['fast', 'slow'], c -> contains(lt, c)) AS cs
      FROM prep
    )
    SELECT doc_id,
           coalesce(
             list_filter(
               list_transform(string_split_regex(text, '\\s+'),
                              t -> lower(regexp_replace(t, '[^a-zA-Z]', '', 'g'))),
               t -> t IN ('fast', 'slow'))[1],
             'none') AS choice,
           CASE WHEN len(cs) = 1 THEN cs[1] ELSE 'none' END AS kbase_choice,
           len(string_split(text, 'data')) = 2 AS unique_data_mention
    FROM hits
    """,
)
def f2_choice_extract(spark, sf_dir):
    from .functions.cleaning import extract_choice_kbase_expr

    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        extract_choice_expr(F.col("text"), ["fast", "slow"]).alias("choice"),
        extract_choice_kbase_expr(
            F.col("text"), F.lit(" never-present "), ["fast", "slow"]
        ).alias("kbase_choice"),
        (F.size(F.split(F.col("text"), "data", -1)) == 2).alias("unique_data_mention"),
    )


# ---------------------------------------------------------------------------
# A3 + F4 — dedup + canonical ordering (string_processor.py:86, 366, 375)
# with the F4 delimiter join/split round-trip (string_processor.py:375,
# 409) applied to the same canonical list.
@register(
    "a3_dedup_canonical_order",
    """
    WITH g AS (
      SELECT n.n_name AS nation, list_sort(list(DISTINCT c.c_mktsegment)) AS vals
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT nation,
           array_to_string(vals, ',') AS segments,
           array_to_string(vals, '__DELIMITER__') AS joined,
           len(string_split(array_to_string(vals, '__DELIMITER__'), '__DELIMITER__')) AS n_back
    FROM g
    """,
)
def a3_dedup_canonical_order(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    g = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.array_sort(F.collect_set("c_mktsegment")).alias("vals"))
    )
    joined = F.concat_ws("__DELIMITER__", "vals")
    return g.select(
        "nation",
        F.concat_ws(",", "vals").alias("segments"),
        joined.alias("joined"),
        F.size(F.split(joined, "__DELIMITER__", -1)).alias("n_back"),
    )


# A7 + A8 — cross-model set algebra in one pass (generative_task_evaluator
# .py:122-138, 167-173): users 'click'-matched by ALL 3 pseudo-models (the
# intersection, n_models = 3) and users matched by exactly ONE model (the
# unique-per-model set, only_model populated).
@register(
    "a7_a8_model_setops",
    """
    SELECT user_id, count(DISTINCT model) AS n_models,
           CASE WHEN count(DISTINCT model) = 1 THEN min(model) END AS only_model
    FROM (
      SELECT user_id, event_id % 3 AS model FROM events WHERE event_type = 'click'
    ) GROUP BY user_id HAVING count(DISTINCT model) IN (1, 3)
    """,
)
def a7_a8_model_setops(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", (F.col("event_id") % 3).alias("model"))
        .groupBy("user_id")
        .agg(F.countDistinct("model").alias("n_models"), F.min("model").alias("mn"))
        .filter(F.col("n_models").isin(1, 3))
        .select(
            "user_id",
            "n_models",
            F.when(F.col("n_models") == 1, F.col("mn")).alias("only_model"),
        )
    )


# J4 + J3 — negative-pair generation at dim scale (string_processor.py:
# 158-163): nation pairs NOT sharing a region, deterministic top-50 by md5
# — PLUS J3's customer-without-orders exclusion anti-join (string_processor
# .py:249-250) as a second labeled band in the same output. (Merged —
# registry is capped at 50 driver-checked rows.)
@register(
    "j3_j4_anti_negatives",
    """
    WITH pos AS (
      SELECT a.n_name AS subj, b.n_name AS obj
      FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
      WHERE a.n_name < b.n_name
    ),
    cand AS (
      SELECT a.n_name AS subj, b.n_name AS obj
      FROM nation a CROSS JOIN nation b WHERE a.n_name < b.n_name
    ),
    neg AS (
      SELECT subj, obj FROM cand
      WHERE NOT EXISTS (SELECT 1 FROM pos WHERE pos.subj = cand.subj AND pos.obj = cand.obj)
      ORDER BY md5(subj || '|' || obj || '|42') LIMIT 50
    )
    SELECT 'neg_pair' AS kind, subj AS a, obj AS b FROM neg
    UNION ALL
    SELECT 'no_orders' AS kind, cast(c_custkey AS VARCHAR) AS a, c_name AS b
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'u3_' || CASE WHEN o_orderstatus = 'F' THEN 'yes' ELSE 'no' END AS kind,
           cast(o_orderkey AS VARCHAR) AS a,
           CASE WHEN o_orderstatus = 'F' THEN 'yes' ELSE 'no' END AS b
    FROM orders WHERE o_orderstatus IN ('F', 'O')
    """,
)
def j3_j4_anti_negatives(spark, sf_dir):
    n = load(spark, sf_dir, "nation")
    a = n.select(F.col("n_name").alias("subj"), F.col("n_regionkey").alias("ra"))
    b = n.select(F.col("n_name").alias("obj"), F.col("n_regionkey").alias("rb"))
    cand = a.crossJoin(b).filter(F.col("subj") < F.col("obj"))
    pos = cand.filter(F.col("ra") == F.col("rb")).select("subj", "obj")
    neg = (
        cand.select("subj", "obj")
        .join(pos, ["subj", "obj"], "left_anti")
        .withColumn("__hk", F.md5(F.concat_ws("|", "subj", "obj", F.lit("42"))))
        .orderBy("__hk")
        .limit(50)
        .select(
            F.lit("neg_pair").alias("kind"),
            F.col("subj").alias("a"),
            F.col("obj").alias("b"),
        )
    )
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    no_orders = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.lit("no_orders").alias("kind"),
        F.col("c_custkey").cast("string").alias("a"),
        F.col("c_name").alias("b"),
    )
    # U3 — labeled union of positive and negative pools
    # (string_processor.py:307); folded from the former standalone
    # u3_union_pos_neg row (VERDICT r6 #6, 50-row driver cap).
    label = F.when(F.col("o_orderstatus") == "F", "yes").otherwise("no")
    u3 = (
        o.filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.concat(F.lit("u3_"), label).alias("kind"),
            F.col("o_orderkey").cast("string").alias("a"),
            label.alias("b"),
        )
    )
    return neg.unionByName(no_orders).unionByName(u3)


# P5/P6 — fanout band filter (string_processor.py:95, 29). The band is
# DERIVED from the observed degree distribution (discrete quartiles, so
# both bounds are attained degree values and rows sit ON each BETWEEN
# boundary at every SF) rather than hard-coded — a fixed band was
# trivially empty against the driver data for five rounds (VERDICT r5
# "What's wrong" #1). percentile_disc is ANSI, identical in both engines.
@register(
    "p5_p6_fanout_filter",
    """
    WITH deg AS (
      SELECT l_suppkey AS node, count(DISTINCT l_partkey) AS degree
      FROM lineitem GROUP BY l_suppkey
    ),
    band AS (
      SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY degree) AS lo,
             percentile_disc(0.75) WITHIN GROUP (ORDER BY degree) AS hi
      FROM deg
    )
    SELECT node, degree, lo AS band_lo, hi AS band_hi
    FROM deg, band WHERE degree BETWEEN lo AND hi
    """,
)
def p5_p6_fanout_filter(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    deg = li.groupBy(F.col("l_suppkey").alias("node")).agg(
        F.countDistinct("l_partkey").alias("degree")
    )
    # 1-row quartile digest, broadcast onto the degree table: the band
    # filter stays a map-side predicate — no second shuffle of deg.
    band = deg.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY degree)")
        .cast("bigint")
        .alias("band_lo"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY degree)")
        .cast("bigint")
        .alias("band_hi"),
    )
    return (
        deg.join(F.broadcast(band))
        .filter(
            (F.col("degree") >= F.col("band_lo"))
            & (F.col("degree") <= F.col("band_hi"))
        )
        .select("node", "degree", "band_lo", "band_hi")
    )


# F5 + F6-adjacent + P10 — prompt templating across ALL reference model
# families (src/prompters/*.py — alpaca, biogpt, biomedlm, falcon,
# galactica, llama2, llama3, llama3.1, mistral, mpt, rst, solar + the
# engine-local generic), with the P10 prompt-strip round-trip: a mock
# continuation is appended and stripped back off by length, per family.
# The oracle is BUILT from the same template registry (split on the single
# %s slot), so Spark and DuckDB render from one source of truth.
_F5_SLOTS = ["entity_q", "kegg_entity_q"]  # the single-argument question slots


def _f5_oracle() -> str:
    from .functions.prompts import TEMPLATES

    selects = []
    for fam in sorted(TEMPLATES):
        for slot in _F5_SLOTS:
            pre, post = TEMPLATES[fam][slot].split("%s")
            pre_sql = pre.replace("'", "''")
            post_sql = post.replace("'", "''")
            selects.append(
                f"SELECT '{fam}' AS family, '{slot}' AS slot, c_custkey,\n"
                f"       '{pre_sql}' || c_name || '{post_sql}' AS prompt,\n"
                "       ' ' || upper(c_name) || '.' AS response\n"
                "FROM customer WHERE c_custkey <= 50"
            )
    return "\nUNION ALL\n".join(selects)


@register("f5_prompt_template", _f5_oracle())
def f5_prompt_template(spark, sf_dir):
    from .extraction import strip_prompt
    from .functions.prompts import TEMPLATES, build_prompts

    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 50)
    outs = []
    for fam in sorted(TEMPLATES):
        for slot in _F5_SLOTS:
            p = build_prompts(
                c.select("c_custkey", F.col("c_name").alias("entity")), fam, slot,
                ["entity"],
            )
            gen = p.withColumn(
                "generated",
                F.concat(F.col("prompt"), F.lit(" "), F.upper("entity"), F.lit(".")),
            )
            outs.append(
                gen.select(
                    F.lit(fam).alias("family"),
                    F.lit(slot).alias("slot"),
                    "c_custkey",
                    "prompt",
                    strip_prompt(F.col("generated"), F.col("prompt")).alias("response"),
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# F8/F9/F10 — composite span key, case norm, non-alpha strip
# (indra_processor.py:186; base_processor.py:1312-1345).
@register(
    "f8_string_fns",
    """
    SELECT event_id,
           event_type || '_' || user_id || '_' || event_id AS span_key,
           lower(event_type) AS label_lc,
           regexp_replace(props, '[^a-zA-Z]', '', 'g') AS props_alpha
    FROM events WHERE event_id < 500
    """,
)
def f8_string_fns(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") < 500).select(
        "event_id",
        F.concat_ws("_", "event_type", "user_id", "event_id").alias("span_key"),
        F.lower("event_type").alias("label_lc"),
        F.regexp_replace("props", "[^a-zA-Z]", "").alias("props_alpha"),
    )


# ---------------------------------------------------------------------------
# Training-data ops: dedup / similarity / text analysis
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)

_TOKS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"

_STOPWORDS_SQL = str(sorted({
    "the", "a", "of", "and", "is", "der", "die", "und", "ist",
    "el", "la", "y", "es", "le", "les", "et", "est", "的", "是", "了",
}))

_QUALITY_SQL = f"""
      least(length(text) / 500.0, 1.0) * 0.3
      + (1.0 - least(abs(CASE WHEN len({_TOKS_SQL}) > 0
                    THEN list_aggregate(list_transform({_TOKS_SQL}, t -> length(t)), 'sum') / len({_TOKS_SQL})
                    ELSE 0.0 END - 5.0) / 5.0, 1.0)) * 0.3
      + least((CASE WHEN len({_TOKS_SQL}) > 0
               THEN len(list_filter(list_transform({_TOKS_SQL}, t -> lower(t)),
                        t -> list_contains({_STOPWORDS_SQL}, t))) / len({_TOKS_SQL})
               ELSE 0.0 END) * 5.0, 1.0) * 0.2
      + (1.0 - least((CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
                 ELSE 0.0 END) * 4.0, 1.0)) * 0.2
"""



# Exact dedup + composite corpus cleaning in one labeled frame (merged
# from the former dd_exact_dedup + pipeline_clean_corpus rows — 50-entry
# driver cap; the cleaner composes the deduper, so the row checks both):
# 'dedup' rows = every content group (keeper, n_dups); 'clean' rows = the
# canonical corpus-prep flow (dedup keepers ∩ quality >= 0.62, token
# counts — _QUALITY_SQL mirrored expression-for-expression so doubles
# stay bit-identical across engines); 'substr' rows = per-doc ExactSubstr
# duplicated-span stats (Lee et al. 2022, arXiv:2107.06499 — 40-char
# non-overlapping md5 windows, global first-occurrence-keeps), fully
# recomputed by DuckDB since both engines agree on md5(substr(...));
# 'cdc' rows = the offset-invariant content-defined-chunking variant
# (dedup.cdc_dup_stats; VERDICT r5 #2 — fixed tiling misses duplicates
# shifted mod w): cut points (md5-of-8-gram <= '05'), chunk hashes,
# first-occurrence keepers and per-doc dup_chars ALL recomputed by
# DuckDB from the same rule, bit-for-bit.
@register(
    "dd_exact_clean_corpus",
    f"""
    WITH scored AS (
      SELECT doc_id, md5({_NORM_SQL}) AS content_key,
             round({_QUALITY_SQL}, 4) AS quality,
             len({_TOKS_SQL}) AS n_tokens
      FROM documents
    ),
    groups AS (
      SELECT content_key, min(doc_id) AS keeper_id, count(*) AS n_dups
      FROM scored GROUP BY content_key
    ),
    wins AS (
      SELECT doc_id, pos, md5(substr(text, CAST(pos AS INT), 40)) AS wh
      FROM (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text) - 39, 0) + 1, 40)) AS pos
            FROM documents)
    ),
    marked AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
      FROM wins
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_win,
             count(*) FILTER (WHERE rn > 1) AS n_dup_win
      FROM marked GROUP BY doc_id
    ),
    cdc_b AS (
      SELECT doc_id, text,
             list_concat(list_concat(
               [1],
               list_filter(range(2, greatest(length(text) - 7, 1) + 1),
                 i -> substr(md5(substr(text, CAST(i AS INT), 8)), 1, 2) <= '05')),
               [length(text) + 1]) AS bounds
      FROM documents
    ),
    cdc_ck AS (
      SELECT doc_id, ck.pos AS pos, ck.clen AS clen,
             md5(substr(text, ck.pos, ck.clen)) AS chash
      FROM (SELECT doc_id, text,
                   unnest(list_transform(range(1, len(bounds)),
                     j -> struct_pack(pos := CAST(bounds[j] AS INT),
                                      clen := CAST(bounds[j+1] - bounds[j] AS INT)))) AS ck
            FROM cdc_b)
      WHERE ck.clen > 0
    ),
    cdc_rep AS (
      SELECT doc_id, pos, clen,
             row_number() OVER (PARTITION BY chash ORDER BY doc_id, pos) > 1 AS rep
      FROM cdc_ck
    ),
    cdc_marked AS (
      SELECT doc_id, clen,
             (clen >= 20 AND rep)
               OR (rep AND (coalesce(lag(clen >= 20 AND rep) OVER w, false)
                            OR coalesce(lead(clen >= 20 AND rep) OVER w, false)))
               AS isdup
      FROM cdc_rep WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    cdc_doc AS (
      SELECT doc_id, count(*) AS n_chunk,
             count(*) FILTER (WHERE isdup) AS n_dup_chunk,
             CAST(coalesce(sum(clen) FILTER (WHERE isdup), 0) AS BIGINT) AS dup_chars
      FROM cdc_marked GROUP BY doc_id
    )
    SELECT 'dedup' AS kind, keeper_id AS doc_id, content_key, n_dups,
           CAST(NULL AS DOUBLE) AS quality, CAST(NULL AS BIGINT) AS n_tokens,
           CAST(NULL AS BIGINT) AS n_win, CAST(NULL AS BIGINT) AS n_dup_win,
           CAST(NULL AS DOUBLE) AS dup_span_frac,
           CAST(NULL AS BIGINT) AS dup_chars
    FROM groups
    UNION ALL
    SELECT 'clean' AS kind, s.doc_id, s.content_key,
           CAST(NULL AS BIGINT) AS n_dups, s.quality, s.n_tokens,
           CAST(NULL AS BIGINT) AS n_win, CAST(NULL AS BIGINT) AS n_dup_win,
           CAST(NULL AS DOUBLE) AS dup_span_frac,
           CAST(NULL AS BIGINT) AS dup_chars
    FROM scored s JOIN groups g ON s.doc_id = g.keeper_id
    WHERE s.quality >= 0.62
    UNION ALL
    SELECT 'substr' AS kind, d.doc_id,
           CAST(NULL AS VARCHAR) AS content_key,
           CAST(NULL AS BIGINT) AS n_dups,
           CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS BIGINT) AS n_tokens,
           coalesce(p.n_win, 0) AS n_win,
           coalesce(p.n_dup_win, 0) AS n_dup_win,
           round(coalesce(CAST(p.n_dup_win * 40 AS DOUBLE)
                          / nullif(length(d.text), 0), 0.0), 4) AS dup_span_frac,
           CAST(NULL AS BIGINT) AS dup_chars
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    UNION ALL
    SELECT 'cdc' AS kind, d.doc_id,
           CAST(NULL AS VARCHAR) AS content_key,
           CAST(NULL AS BIGINT) AS n_dups,
           CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS BIGINT) AS n_tokens,
           coalesce(c.n_chunk, 0) AS n_win,
           coalesce(c.n_dup_chunk, 0) AS n_dup_win,
           round(coalesce(CAST(c.dup_chars AS DOUBLE)
                          / nullif(length(d.text), 0), 0.0), 4) AS dup_span_frac,
           coalesce(c.dup_chars, 0) AS dup_chars
    FROM documents d LEFT JOIN cdc_doc c USING (doc_id)
    UNION ALL
    -- the REMOVAL invariant (r7): the engine row sums the length of the
    -- actually-rebuilt clean_text; this side PREDICTS it as
    -- sum(len) - sum(dup_chars) from the independent cut-point recompute
    -- (chunks tile the text exactly), and counts the docs that shrank
    SELECT 'cdc_removed' AS kind, CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS VARCHAR) AS content_key,
           CAST(NULL AS BIGINT) AS n_dups,
           CAST(NULL AS DOUBLE) AS quality,
           CAST(NULL AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE coalesce(c.dup_chars, 0) > 0)
                AS BIGINT) AS n_win,
           CAST(NULL AS BIGINT) AS n_dup_win,
           CAST(NULL AS DOUBLE) AS dup_span_frac,
           CAST(sum(length(d.text) - coalesce(c.dup_chars, 0))
                AS BIGINT) AS dup_chars
    FROM documents d LEFT JOIN cdc_doc c USING (doc_id)
    """,
)
def dd_exact_clean_corpus(spark, sf_dir):
    from .functions.text import quality_score_of, tokens
    from .operators.dedup import (
        _cdc_marked,
        cdc_dup_stats,
        cdc_remove_dup_spans,
        normalized_text,
        substring_dup_stats,
    )

    _substr_nulls = [
        F.lit(None).cast("bigint").alias("n_win"),
        F.lit(None).cast("bigint").alias("n_dup_win"),
        F.lit(None).cast("double").alias("dup_span_frac"),
        F.lit(None).cast("bigint").alias("dup_chars"),
    ]
    # fan out: the md5-per-byte CDC scan + window hashing otherwise run on
    # the single-row-group scan's 1-2 tasks (see load_fanout)
    d = load_fanout(spark, sf_dir, "documents")
    # tokens materialized once, then scored: quality_score inline expands
    # the trim+split token subtree ~7x per row (functions/text.py
    # quality_score_of rationale) — measured 7.8s -> ~1s on this
    # projection at sf1.0. The frame is localCheckpoint'd (50k tiny rows,
    # recomputed every invocation) for two measured reasons: the
    # quality-threshold filter otherwise gets PUSHED below the fan-out
    # repartition onto the single-row-group scan — a serial 2-task stage
    # re-evaluating the full inlined quality expression (stage profile:
    # 7.4 CPU-s on 2 tasks) — and the dedup 'groups' aggregate can then
    # derive from the same checkpointed rows instead of re-scanning +
    # re-hashing the corpus per union branch (3 normalize+md5 subtrees
    # collapse to 1).
    scored = (
        d.select("doc_id", "text", tokens(F.col("text")).alias("__qtoks"))
        .select(
            "doc_id",
            F.md5(normalized_text(F.col("text"))).alias("content_key"),
            quality_score_of(F.col("text"), F.col("__qtoks")).alias("quality"),
            F.size("__qtoks").cast("bigint").alias("n_tokens"),
        )
        .localCheckpoint()
    )
    # same aggregation as operators.dedup.exact_dedup, over the shared
    # checkpointed content keys
    groups = scored.groupBy("content_key").agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_dups")
    )
    dedup_rows = groups.select(
        F.lit("dedup").alias("kind"),
        F.col("keeper_id").alias("doc_id"),
        "content_key",
        "n_dups",
        F.lit(None).cast("double").alias("quality"),
        F.lit(None).cast("bigint").alias("n_tokens"),
        *_substr_nulls,
    )
    clean_rows = (
        scored.join(
            groups.select(F.col("keeper_id").alias("doc_id")), "doc_id"
        )
        .filter(F.col("quality") >= 0.62)
        .select(
            F.lit("clean").alias("kind"),
            "doc_id",
            "content_key",
            F.lit(None).cast("bigint").alias("n_dups"),
            "quality",
            "n_tokens",
            *_substr_nulls,
        )
    )
    substr_rows = substring_dup_stats(d, w=40).select(
        F.lit("substr").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("content_key"),
        F.lit(None).cast("bigint").alias("n_dups"),
        F.lit(None).cast("double").alias("quality"),
        F.lit(None).cast("bigint").alias("n_tokens"),
        "n_win",
        "n_dup_win",
        "dup_span_frac",
        F.lit(None).cast("bigint").alias("dup_chars"),
    )
    # the chunk scan (an md5 per text byte) feeds BOTH the 'cdc' stats rows
    # and the 'cdc_removed' destructive rebuild below; share ONE lazy frame
    # so the two consumers' subtrees are identical and the chunk-scan
    # exchange is computed once and reused (ReusedExchange in the union
    # plan). An eager localCheckpoint was measured 3x SLOWER here — the
    # RDD materialization path bypasses AQE + whole-stage codegen for the
    # cut scan.
    cdc_marked = _cdc_marked(d, "doc_id", "text", 8, "05", 20)
    cdc_rows = cdc_dup_stats(d, marked=cdc_marked).select(
        F.lit("cdc").alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("content_key"),
        F.lit(None).cast("bigint").alias("n_dups"),
        F.lit(None).cast("double").alias("quality"),
        F.lit(None).cast("bigint").alias("n_tokens"),
        F.col("n_chunk").alias("n_win"),
        F.col("n_dup_chunk").alias("n_dup_win"),
        "dup_span_frac",
        "dup_chars",
    )
    # the removal invariant (r7, VERDICT #4/#6): run the DESTRUCTIVE
    # offset-invariant path — rebuild every clean_text through the
    # kept-chunk aggregate expression — and expose its two independently
    # predictable aggregates: total clean chars (oracle: sum(len) -
    # sum(dup_chars) from its own cut-point recompute) and the count of
    # docs that actually shrank
    removed_row = (
        cdc_remove_dup_spans(d, marked=cdc_marked)
        .agg(
            F.sum(F.length("clean_text")).cast("bigint").alias("__clean_chars"),
            F.sum(
                (F.length("clean_text") != F.length("text")).cast("bigint")
            ).alias("__n_changed"),
        )
        .select(
            F.lit("cdc_removed").alias("kind"),
            F.lit(None).cast("bigint").alias("doc_id"),
            F.lit(None).cast("string").alias("content_key"),
            F.lit(None).cast("bigint").alias("n_dups"),
            F.lit(None).cast("double").alias("quality"),
            F.lit(None).cast("bigint").alias("n_tokens"),
            F.col("__n_changed").alias("n_win"),
            F.lit(None).cast("bigint").alias("n_dup_win"),
            F.lit(None).cast("double").alias("dup_span_frac"),
            F.col("__clean_chars").alias("dup_chars"),
        )
    )
    return (
        dedup_rows.unionByName(clean_rows)
        .unionByName(substr_rows)
        .unionByName(cdc_rows)
        .unionByName(removed_row)
    )


@register(
    "dd_ngram_jaccard",
    f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')
             )) AS grams
      FROM norm
    ),
    ex0 AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM sh),
    hot AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) > 100),
    ex AS (SELECT * FROM ex0 WHERE g NOT IN (SELECT g FROM hot)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb, count(*) AS shared
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           round(shared / (na + nb - shared), 4) AS jaccard
    FROM shared WHERE shared / (na + nb - shared) >= 0.5
    """,
)
def dd_ngram_jaccard(spark, sf_dir):
    from .operators.dedup import ngram_jaccard_pairs

    # fanned out: the regex/shingle map is the heavy part (see load_fanout)
    docs = load_fanout(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5, max_df=100)


# MinHash LSH + SimHash are xxhash64-based — DuckDB cannot recompute them,
# but both admit ENGINE-CHECKED invariants, returned as data and pinned by
# a golden oracle (VERDICT r1 #4: turn `no_oracle` rows green):
# - minhash_lsh: recall of the candidate set against the EXACT near-dup
#   pairs at Jaccard >= 0.8 must clear 0.9 (at bands=8/rows=4 a j=0.8 pair
#   is caught w.p. ~0.985, so strict containment would flake by design —
#   the floor matches the configured S-curve, not wishful thinking).
# - simhash: fingerprints must be identical when computed from a
#   differently-partitioned copy of the input — the parallelism-invariance
#   property every 100TB run depends on (ok = all docs agree).
@artifact("mhc", ("operators.dedup",), ("documents",))
def _mhc(spark, sf_dir, out):
    """The MinHash-LSH candidate pairs (``cands/``), so DuckDB recomputes
    n_total / n_found / recall from the same pair set the engine produced."""
    import os

    from .operators.dedup import minhash_lsh_candidates

    docs = load_fanout(spark, sf_dir, "documents")
    minhash_lsh_candidates(docs).select("id_a", "id_b").write.parquet(
        os.path.join(out, "cands")
    )


def _dd_minhash_simhash_oracle() -> str | None:
    """HYBRID oracle (r5, deepened late-r5): DuckDB recomputes the minhash
    row's reference cardinality n_expected — the capped-index exact
    n-gram-Jaccard pairs at 0.8, same formulation as dd_ngram_jaccard's
    computed oracle — PLUS n_total / n_found / recall from the
    materialized candidate-pair parquet, and the ENTIRE simhash-invariance
    row (on 200 sampled docs the fingerprints must agree perfectly:
    n_found = n_expected = 200, score 1.0, ok true — a computed
    expectation, not a pin). Only cand_hash — pinning the candidate-pair
    multiset — stays captured; 'ok' is expected literal true, so a recall
    drop below the 0.9 floor flips the driver row red."""
    import os

    pinned = golden_sql("dd_minhash_simhash_check")
    if pinned is None:
        return None
    glob = os.path.join(_mhc.alias(_oracle_sf_dir()), "cands", "*.parquet")
    return f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')
             )) AS grams
      FROM norm
    ),
    ex0 AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM sh),
    hot AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) > 100),
    ex AS (SELECT * FROM ex0 WHERE g NOT IN (SELECT g FROM hot)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
             count(*) AS shared
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ),
    expected_pairs AS (
      SELECT id_a, id_b FROM shared WHERE shared / (na + nb - shared) >= 0.8
    ),
    expected AS (
      SELECT CAST(count(*) AS BIGINT) AS n_expected FROM expected_pairs
    ),
    cands AS (SELECT * FROM read_parquet('{glob}')),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM cands),
    fnd AS (
      SELECT CAST(count(*) AS BIGINT) AS n_found
      FROM expected_pairs e JOIN cands c
        ON e.id_a = c.id_a AND e.id_b = c.id_b
    ),
    pin AS (
      SELECT cand_hash FROM ({pinned}) AS g
      WHERE method = 'minhash_lsh_recall@0.8'
    ),
    sample_n AS (
      SELECT CAST(least(200, count(*)) AS BIGINT) AS n FROM documents
    )
    SELECT 'minhash_lsh_recall@0.8' AS method,
           tot.n_total, expected.n_expected, fnd.n_found,
           round(coalesce(CAST(fnd.n_found AS DOUBLE)
                          / nullif(expected.n_expected, 0), 1.0), 4) AS score,
           CAST(0.9 AS DOUBLE) AS floor, true AS ok, pin.cand_hash
    FROM pin, expected, tot, fnd
    UNION ALL
    SELECT 'simhash_partition_invariance', n, n, n,
           CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE), true, CAST(0 AS BIGINT)
    FROM sample_n
    """


@register("dd_minhash_simhash_check", _dd_minhash_simhash_oracle)
def dd_minhash_simhash_check(spark, sf_dir):
    import os

    from .operators.dedup import ngram_jaccard_pairs, simhash

    docs = load_fanout(spark, sf_dir, "documents")

    # LSH candidates come from the materialized parquet (write-once) so the
    # DuckDB oracle recomputes n_total/n_found/recall from the same pairs
    cands = spark.read.parquet(os.path.join(_mhc.materialize(spark, sf_dir), "cands"))
    # reference set = the capped-index exact pairs (same max_df=100 blocking
    # as dd_ngram_jaccard — the uncapped self-join this check originally ran
    # was the single most expensive query in the suite, and the invariant
    # only needs a deterministic reference, not the uncappable truth)
    exact = ngram_jaccard_pairs(docs, threshold=0.8, max_df=100).select(
        "id_a", "id_b"
    )
    # the reference is evaluated ONCE: each exact pair, flagged if any
    # candidate hits it (candidates made distinct so a duplicate pair cannot
    # count twice), feeds both counts in one aggregate
    hits = cands.select("id_a", "id_b").distinct().withColumn("hit", F.lit(1))
    ref = exact.join(hits, ["id_a", "id_b"], "left").agg(
        F.count("*").alias("n_expected"), F.count("hit").alias("n_found")
    )
    recall = F.coalesce(F.try_divide("n_found", "n_expected"), F.lit(1.0))
    mh = (
        cands.agg(
            F.count("*").alias("n_total"),
            F.bit_xor(F.xxhash64("id_a", "id_b")).alias("cand_hash"),
        )
        .crossJoin(ref)
        .select(
            F.lit("minhash_lsh_recall@0.8").alias("method"),
            "n_total", "n_expected", "n_found",
            F.round(recall, 4).alias("score"),
            F.lit(0.9).alias("floor"),
            (recall >= 0.9).alias("ok"),
            "cand_hash",
        )
    )

    # invariance is a per-doc property: a deterministic 200-doc sample keeps
    # the check O(1) as sf grows (the sample is labeled in n_total)
    sample = seeded_sample(docs, ["doc_id"], 200)
    a = simhash(sample).withColumnRenamed("simhash", "fp_a")
    b = simhash(sample.repartition(7)).withColumnRenamed("simhash", "fp_b")
    agree = F.coalesce(F.try_divide("n_found", "n_expected"), F.lit(1.0))
    sh = (
        a.join(b, "id")
        .agg(
            F.count("*").alias("n_expected"),
            F.sum((F.col("fp_a") == F.col("fp_b")).cast("int")).alias("n_found"),
        )
        .select(
            F.lit("simhash_partition_invariance").alias("method"),
            F.col("n_expected").alias("n_total"),
            "n_expected",
            "n_found",
            F.round(agree, 4).alias("score"),
            F.lit(1.0).alias("floor"),
            (F.col("n_found") == F.col("n_expected")).alias("ok"),
            F.lit(0).cast("long").alias("cand_hash"),
        )
    )
    return mh.unionByName(sh)


@register(
    "sim_cosine_topk",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5
    ),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cvec FROM embeddings),
    scored AS (
      SELECT query_id, vec_id,
             list_dot_product(qvec, cvec)
               / (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(cvec, cvec))) AS cos
      FROM q CROSS JOIN c
    ),
    ranked AS (
      SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, round(cos, 4) AS cosine_sim, rank
    FROM ranked WHERE rank <= 10
    """,
)
def sim_cosine_topk(spark, sf_dir):
    from .operators.similarity import cosine_topk

    # fan out: the brute-force scoring (queries x corpus dot products)
    # otherwise runs inside the single-row-group scan's 1-2 tasks
    # (measured 2.0s -> 0.8s; see load_fanout)
    emb = load_fanout(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, q, k=10, query_id_col="query_id")


@register(
    "sim_near_dup_pairs",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round(c, 4) AS cosine_sim FROM p WHERE c >= 0.35
    """,
)
def sim_near_dup_pairs(spark, sf_dir):
    from .operators.similarity import cosine_near_dup_pairs

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    return cosine_near_dup_pairs(emb, threshold=0.35, exact=True)


# LSH near-dup path graded against its exact twin (VERDICT r1 #4):
# overall recall at the working threshold 0.35, plus the invariant with
# real support — recall over the strongest pairs (cosine >= 0.45) must
# clear 0.7 at 8 hyperplane tables. The driver's embeddings are
# isotropic random vectors whose most-similar pairs sit at cosine ~0.5
# (60 deg) — the regime where sign-LSH collision probability is lowest, so
# the floor states the measured guarantee of the configured table count,
# not a hoped-for 0.99-dup regime (where sign agreement makes recall ~1).
# HYBRID oracle since r5: the LSH candidate pairs, the planted corpus and
# the blocked SemDeDup assignment are materialized to parquet; DuckDB
# recomputes the exact pair set (brute force), the exact dedup components
# (recursive-CTE transitive closure over >= 0.95 edges) and every count /
# recall / invariant boolean from those bytes — only the two xxhash64
# digests (lsh_hash over the candidate pairs, sd_hash over the blocked
# assignment) stay pinned.
@artifact("simlsh", ("operators.similarity", "operators.canonical"), ("embeddings",))
def _simlsh(spark, sf_dir, out):
    """The engine-specific similarity outputs: LSH candidate pairs at the
    working threshold, the planted-duplicate corpus (written FIRST, then
    read back, so both engines score identical float bytes), and the
    cell-blocked SemDeDup assignment over it."""
    import os

    from .operators.similarity import cosine_near_dup_pairs, semantic_dedup

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    cosine_near_dup_pairs(
        emb, threshold=0.35, exact=False, n_tables=8
    ).write.parquet(os.path.join(out, "lsh_pairs"))
    dups = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * (1.0 + ((i % 7) - 3) * 1e-4)
        ).alias("embedding"),
    )
    emb.select("vec_id", "embedding").unionByName(dups).write.parquet(
        os.path.join(out, "planted")
    )
    planted = spark.read.parquet(os.path.join(out, "planted"))
    semantic_dedup(planted, threshold=0.95, n_centroids=8).select(
        "id", "keeper_id"
    ).write.parquet(os.path.join(out, "sd_blocked"))


def _sim_near_dup_lsh_oracle() -> str | None:
    import os

    pinned = golden_sql("sim_near_dup_lsh")
    if pinned is None:
        return None
    root = _simlsh.alias(_oracle_sf_dir())

    def glob(stage):
        return os.path.join(root, stage, "*.parquet")

    cos = (
        "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))"
        " * sqrt(list_dot_product(b.v, b.v)))"
    )
    return f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    x AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS c
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ),
    exact35 AS (SELECT id_a, id_b, round(c, 4) AS cs FROM x WHERE c >= 0.35),
    lshp AS (SELECT * FROM read_parquet('{glob("lsh_pairs")}')),
    lcnt AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM lshp),
    ecnt AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact35),
    fcnt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_found
      FROM exact35 ex JOIN lshp l ON ex.id_a = l.id_a AND ex.id_b = l.id_b
    ),
    hcnt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exact_high FROM exact35
      WHERE cs >= 0.45
    ),
    hf AS (
      SELECT CAST(count(*) AS BIGINT) AS n_found_high
      FROM exact35 ex JOIN lshp l ON ex.id_a = l.id_a AND ex.id_b = l.id_b
      WHERE ex.cs >= 0.45
    ),
    pl AS (
      SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM read_parquet('{glob("planted")}')
    ),
    pe AS (
      SELECT a.id AS ia, b.id AS ib
      FROM pl a JOIN pl b ON a.id < b.id
      WHERE {cos} >= 0.95
    ),
    sym AS (SELECT ia AS s, ib AS d FROM pe UNION ALL SELECT ib, ia FROM pe),
    reach(id, r) AS (
      SELECT id, id FROM pl
      UNION
      SELECT rc.id, sym.d FROM reach rc JOIN sym ON sym.s = rc.r
    ),
    keeper AS (SELECT id, min(r) AS keeper_exact FROM reach GROUP BY id),
    blocked AS (SELECT * FROM read_parquet('{glob("sd_blocked")}')),
    mj AS (
      SELECT b.id, b.keeper_id, k.keeper_exact
      FROM blocked b JOIN keeper k USING (id)
    ),
    sdbase AS (
      SELECT CAST(count(*) AS BIGINT) AS sd_n,
             CAST(sum(CASE WHEN keeper_exact <> id THEN 1 ELSE 0 END)
                  AS BIGINT) AS sd_n_merged_exact,
             CAST(sum(CASE WHEN keeper_id <> id THEN 1 ELSE 0 END)
                  AS BIGINT) AS sd_n_merged
      FROM mj
    )
    SELECT lcnt.n_candidates, ecnt.n_exact, fcnt.n_found,
           round(coalesce(CAST(fcnt.n_found AS DOUBLE)
                          / nullif(ecnt.n_exact, 0), 1.0), 4) AS recall,
           hcnt.n_exact_high, hf.n_found_high,
           round(coalesce(CAST(hf.n_found_high AS DOUBLE)
                          / nullif(hcnt.n_exact_high, 0), 1.0), 4) AS high_recall,
           -- invariant booleans expected literal true (repo convention,
           -- see kg_triple_pr): an engine-side false flips the row red
           true AS high_recall_ok,
           g.lsh_hash,
           s.sd_n, s.sd_n_merged_exact, s.sd_n_merged,
           round(coalesce(CAST(s.sd_n_merged AS DOUBLE)
                          / nullif(s.sd_n_merged_exact, 0), 1.0), 4) AS sd_recall,
           true AS sd_recall_ok, true AS sd_subset_ok,
           true AS sd_keeper_min_ok, true AS sd_planted_ok,
           true AS sd_closure_ok,
           g.sd_hash
    FROM lcnt, ecnt, fcnt, hcnt, hf, sdbase s, ({pinned}) g
    """


@register("sim_near_dup_lsh", _sim_near_dup_lsh_oracle)
def sim_near_dup_lsh(spark, sf_dir):
    """LSH near-dup digest + SemDeDup digest in one row (merged, VERDICT r4
    #2 — registry capped at 50). The sd_* columns grade semantic_dedup
    (operators/similarity.py) on a PLANTED corpus: every 25th vector gets a
    near-identical copy (deterministic 1e-4 perturbation, id + 100000);
    the exact twin must merge exactly the planted copies, the cell-blocked
    SemDeDup's recall over them feeds sd_recall with a 1.0 floor (planted
    dups are near-identical, so cell assignment cannot split them), and
    keeper-min / planted-pair-closure / blocked-subset-of-exact booleans
    flip the row red on any quality drop — each recomputed cross-engine
    from the materialized parquet since r5."""
    import os

    from .operators.similarity import cosine_near_dup_pairs, semantic_dedup

    root = _simlsh.materialize(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    lsh = spark.read.parquet(os.path.join(root, "lsh_pairs")).select(
        "id_a", "id_b", "cosine_sim"
    )
    exact = cosine_near_dup_pairs(emb, threshold=0.35, exact=True).select(
        "id_a", "id_b", "cosine_sim"
    )
    found = exact.join(lsh.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
    high = exact.filter(F.col("cosine_sim") >= 0.45)
    high_found = high.join(lsh.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
    high_recall = F.coalesce(F.try_divide("n_found_high", "n_exact_high"), F.lit(1.0))
    lsh_digest = (
        lsh.agg(
            F.count("*").alias("n_candidates"),
            F.bit_xor(F.xxhash64("id_a", "id_b", "cosine_sim")).alias("lsh_hash"),
        )
        .crossJoin(exact.agg(F.count("*").alias("n_exact")))
        .crossJoin(found.agg(F.count("*").alias("n_found")))
        .crossJoin(high.agg(F.count("*").alias("n_exact_high")))
        .crossJoin(high_found.agg(F.count("*").alias("n_found_high")))
        .select(
            "n_candidates", "n_exact", "n_found",
            F.round(
                F.coalesce(F.try_divide("n_found", "n_exact"), F.lit(1.0)), 4
            ).alias("recall"),
            "n_exact_high", "n_found_high",
            F.round(high_recall, 4).alias("high_recall"),
            (high_recall >= 0.7).alias("high_recall_ok"),
            "lsh_hash",
        )
    )

    # --- SemDeDup digest over the planted corpus (parquet-materialized) ---
    planted = spark.read.parquet(os.path.join(root, "planted"))
    sd_blocked = spark.read.parquet(os.path.join(root, "sd_blocked"))
    sd_exact = semantic_dedup(planted, threshold=0.95, exact=True).select(
        F.col("id").alias("id"), F.col("keeper_id").alias("keeper_exact")
    )
    both = sd_blocked.join(sd_exact, "id")
    merged_b = F.col("keeper_id") != F.col("id")
    merged_e = F.col("keeper_exact") != F.col("id")
    base = both.agg(
        F.count("*").cast("long").alias("sd_n"),
        F.sum(merged_e.cast("int")).cast("long").alias("sd_n_merged_exact"),
        F.sum(merged_b.cast("int")).cast("long").alias("sd_n_merged"),
        # blocking may only LOSE merges vs the exact twin, never invent them
        (F.sum((merged_b & ~merged_e).cast("int")) == 0).alias("sd_subset_ok"),
        (F.min((F.col("keeper_id") <= F.col("id")).cast("int")) == 1).alias(
            "sd_keeper_min_ok"
        ),
        # the exact twin merges exactly the planted copies (ids >= 100000)
        (
            F.sum((merged_e != (F.col("id") >= 100000)).cast("int")) == 0
        ).alias("sd_planted_ok"),
    )
    # planted-pair closure: original and its copy share a keeper (blocked)
    pair_closure = (
        sd_blocked.filter(F.col("id") >= 100000)
        .select((F.col("id") - 100000).alias("src"), F.col("keeper_id").alias("k_dup"))
        .join(
            sd_blocked.select(F.col("id").alias("src"), F.col("keeper_id").alias("k_src")),
            "src",
        )
        .agg(
            (F.min((F.col("k_dup") == F.col("k_src")).cast("int")) == 1).alias(
                "sd_closure_ok"
            )
        )
    )
    sd_recall = F.coalesce(
        F.try_divide("sd_n_merged", "sd_n_merged_exact"), F.lit(1.0)
    )
    sd_digest = base.crossJoin(pair_closure).crossJoin(
        sd_blocked.agg(F.bit_xor(F.xxhash64("id", "keeper_id")).alias("sd_hash"))
    ).select(
        "sd_n", "sd_n_merged_exact", "sd_n_merged",
        F.round(sd_recall, 4).alias("sd_recall"),
        # near-identical planted dups cannot cross cells: floor is 1.0
        (sd_recall >= 1.0).alias("sd_recall_ok"),
        "sd_subset_ok", "sd_keeper_min_ok", "sd_planted_ok", "sd_closure_ok",
        "sd_hash",
    )
    return lsh_digest.crossJoin(sd_digest)


# IVF / IVF-PQ / hyperplane-LSH ANN graded against the brute-force exact
# top-k: per-method recall@10 over the same 5 queries. HYBRID oracle
# since r5: the approximate results are materialized to parquet and
# DuckDB recomputes the exact top-k (brute-force cosine + the same (sim
# desc, vec_id) tie-break window) and every count/recall/floor column
# from those bytes; only ann_hash — pinning the approximate result
# multiset — stays captured. ok asserts a per-method recall floor: 0.9
# for multi-table LSH (6 tables + multiprobe); 0.85 for Lloyd-refined
# IVF at n_probe=6/8 and for IVF-PQ (m=16/ks=16 codes + ADC + refine=8
# exact re-rank, measured 0.94 — the IVF probe ceiling) — the driver's
# synthetic embeddings are ISOTROPIC random vectors, the known worst
# case for coarse quantization (no cluster structure to exploit), so the
# floor states what the partition scheme actually guarantees there
# (VERDICT r3 #5).
_ANN_FLOORS = {"ivf": 0.85, "ivfpq": 0.85, "lsh": 0.9, "ivfpq_auto": 0.9}


@artifact("ann", ("operators.similarity",), ("embeddings",))
def _ann(spark, sf_dir, out):
    """The IVF/LSH approximate top-k rows (``ann/``), so the Spark digest
    and the DuckDB recompute grade exactly the same candidate rows."""
    import os

    from .operators.similarity import (
        ivf_topk,
        ivfpq_auto_knobs,
        ivfpq_topk,
        lsh_ann_topk,
    )

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = ivf_topk(emb, q, k=10, n_centroids=8, n_probe=6)
    # IVF-PQ at m=16/ks=16 (8-byte codes, 64x vs raw doubles),
    # refine=8 exact re-rank: recall@10 0.94 on the isotropic fixture
    # — the IVF probe ceiling; the PQ stage loses nothing after refine
    pq = ivfpq_topk(
        emb, q, k=10, n_centroids=8, n_probe=6, m=16, ks=16, refine=8
    )
    # the corpus-size-derived knobs (r7, VERDICT #3): hold the
    # shortlist/candidates ratio instead of a fixed refine — graded
    # at a STRICTER 0.9 floor (the auto-knob promise the 400k
    # crossover fixture also holds, BASELINE.md r7)
    a_probe, a_refine = ivfpq_auto_knobs(
        emb.count(), n_centroids=8, k=10, n_probe=6
    )
    pq_auto = ivfpq_topk(
        emb, q, k=10, n_centroids=8, n_probe=a_probe, m=16, ks=16,
        refine=a_refine,
    )
    lsh = lsh_ann_topk(emb, q, k=10, n_tables=6, query_id_col="query_id")
    (
        ivf.select(F.lit("ivf").alias("method"), "query_id", "vec_id", "rank")
        .unionByName(
            pq.select(
                F.lit("ivfpq").alias("method"), "query_id", "vec_id", "rank"
            )
        )
        .unionByName(
            pq_auto.select(
                F.lit("ivfpq_auto").alias("method"), "query_id", "vec_id", "rank"
            )
        )
        .unionByName(
            lsh.select(F.lit("lsh").alias("method"), "query_id", "vec_id", "rank")
        )
        .write.parquet(os.path.join(out, "ann"))
    )


def _sim_ann_recall_oracle() -> str | None:
    import os

    pinned = golden_sql("sim_ann_recall")
    if pinned is None:
        return None
    # resolved lazily at oracle-SQL build time from the oracle sf (ADVICE r4)
    glob = os.path.join(_ann.alias(_oracle_sf_dir()), "ann", "*.parquet")
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id,
             list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.v, e.v))) AS c
      FROM q CROSS JOIN e
    ),
    ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id)
               AS rnk
      FROM scored
    ),
    exact AS (SELECT query_id, vec_id FROM ranked WHERE rnk <= 10),
    ann AS (SELECT * FROM read_parquet('{glob}')),
    meth AS (
      SELECT method, CAST(count(*) AS BIGINT) AS n_ann FROM ann GROUP BY method
    ),
    hits AS (
      SELECT a.method, CAST(count(*) AS BIGINT) AS n_hit
      FROM ann a JOIN exact ex USING (query_id, vec_id)
      GROUP BY a.method
    ),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact)
    SELECT m.method, CAST(10 AS BIGINT) AS k, ne.n_exact,
           coalesce(h.n_hit, 0) AS n_hit, m.n_ann,
           round(coalesce(CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                          / nullif(ne.n_exact, 0), 0.0), 4) AS recall,
           CAST(CASE WHEN m.method = 'lsh' THEN {_ANN_FLOORS["lsh"]}
                     WHEN m.method = 'ivfpq_auto' THEN {_ANN_FLOORS["ivfpq_auto"]}
                     ELSE {_ANN_FLOORS["ivf"]} END AS DOUBLE) AS floor,
           true AS ok,
           g.ann_hash
    FROM meth m LEFT JOIN hits h USING (method)
    CROSS JOIN ne
    JOIN ({pinned}) g USING (method)
    ORDER BY m.method
    """


@register("sim_ann_recall", _sim_ann_recall_oracle)
def sim_ann_recall(spark, sf_dir):
    import os

    from .operators.similarity import cosine_topk

    ann = spark.read.parquet(os.path.join(_ann.materialize(spark, sf_dir), "ann"))
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, q, k=10, query_id_col="query_id").select(
        "query_id", "vec_id"
    )
    meth = ann.groupBy("method").agg(
        F.count("*").cast("long").alias("n_ann"),
        F.bit_xor(F.xxhash64("query_id", "vec_id", "rank")).alias("ann_hash"),
    )
    hits = (
        ann.join(exact, ["query_id", "vec_id"], "left_semi")
        .groupBy("method")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    floor = (
        F.when(F.col("method") == "lsh", F.lit(_ANN_FLOORS["lsh"]))
        .when(F.col("method") == "ivfpq_auto", F.lit(_ANN_FLOORS["ivfpq_auto"]))
        .otherwise(F.lit(_ANN_FLOORS["ivf"]))  # ivf/ivfpq share 0.85
    )
    recall = F.coalesce(F.try_divide("n_hit", "n_exact"), F.lit(0.0))
    return (
        meth.join(hits, "method", "left")
        .na.fill({"n_hit": 0})
        .crossJoin(exact.agg(F.count("*").cast("long").alias("n_exact")))
        .select(
            "method",
            F.lit(10).cast("long").alias("k"),
            "n_exact", "n_hit", "n_ann",
            F.round(recall, 4).alias("recall"),
            floor.alias("floor"),
            (recall >= floor).alias("ok"),
            "ann_hash",
        )
        .orderBy("method")
    )




@artifact("lm", ("operators.curation",), ("documents",))
def _lm(spark, sf_dir, out):
    """The trained bigram-LM count tables ``uni/`` and ``bi/`` (train-once/
    score-everywhere — VERDICT r5 #4): the persisted artifact BOTH the
    graded Spark row and the DuckDB oracle score against, so the graded
    plan carries no training aggregates."""
    from .operators.curation import save_ngram_lm

    save_ngram_lm(load(spark, sf_dir, "documents"), out, "text")


# the name perfbench's doc_curation workload warms the LM artifact through
_lm_parquet = _lm.materialize


# txt profile — the whole per-document text-analysis battery in one pass
# (whitespace + BPE-ish token counts, rolling-hash fingerprint, marker-word
# language id, composite quality score): one row per document, one scan.
def _txt_profile_oracle() -> str:
    """Lazy oracle (resolved at all_oracles() time): the LM score legs read
    the count tables the engine PERSISTED via save_ngram_lm — the oracle
    scores against the very artifact the graded row used, so a drift
    between the persisted counts and a fresh train would hash-mismatch."""
    import os

    lm_root = _lm.alias(_oracle_sf_dir())
    uni_glob = os.path.join(lm_root, "uni", "*.parquet")
    bi_glob = os.path.join(lm_root, "bi", "*.parquet")
    return f"""
    WITH docs AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks,
             regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]') AS pc
      FROM documents
    ),
    lt AS (
      SELECT doc_id, list_transform(toks, t -> lower(t)) AS tk FROM docs
    ),
    scores AS (
      SELECT doc_id, 'de' AS lang,
             len(list_filter(tk, t -> list_contains(['der','die','und','ist'], t))) AS hits FROM lt
      UNION ALL
      SELECT doc_id, 'en',
             len(list_filter(tk, t -> list_contains(['the','a','of','and','is'], t))) FROM lt
      UNION ALL
      SELECT doc_id, 'es',
             len(list_filter(tk, t -> list_contains(['el','la','y','es'], t))) FROM lt
      UNION ALL
      SELECT doc_id, 'fr',
             len(list_filter(tk, t -> list_contains(['le','les','et','est'], t))) FROM lt
      UNION ALL
      SELECT doc_id, 'zh',
             len(list_filter(tk, t -> list_contains(['的','是','了'], t))) FROM lt
    ),
    best AS (
      SELECT doc_id, lang, hits,
             row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
      FROM scores
    ),
    lang AS (
      SELECT doc_id, CASE WHEN hits = 0 THEN 'und' ELSE lang END AS lang_pred
      FROM best WHERE rn = 1
    ),
    reps AS (
      SELECT doc_id,
             list_transform(
               range(greatest(len(ntoks) - 3, 0) + 1),
               i -> array_to_string(list_slice(ntoks, i + 1, i + 3), ' ')
             ) AS grams
      FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ntoks
            FROM documents)
    ),
    rep AS (
      SELECT doc_id,
             coalesce(round(
               list_max(list_transform(list_distinct(grams),
                        g -> len(list_filter(grams, x -> x = g))))
               / len(grams), 4), CAST(0.0 AS DOUBLE)) AS repetition
      FROM reps
    ),
    scrub AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(
               CASE WHEN doc_id % 11 = 0
                    THEN text || ' contact bob@example.com at https://example.com/x from 10.0.0.1'
                    ELSE text END,
               'https?://[^\\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
               '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g') AS s
      FROM documents
    ),
    masks AS (
      SELECT doc_id, CAST(
          (length(s) - length(replace(s, '<EMAIL>', ''))) / 7
        + (length(s) - length(replace(s, '<URL>', ''))) / 5
        + (length(s) - length(replace(s, '<IP>', ''))) / 4 AS INT) AS n_masks
      FROM scrub
    ),
    -- CCNet-style bigram-LM perplexity (stupid backoff, alpha 0.4): the
    -- count tables come from the PERSISTED save_ngram_lm parquet the
    -- graded row scored with (train-once shape, VERDICT r5 #4); only the
    -- per-doc transitions are rebuilt from the same lowercased tokens
    lmz AS (
      SELECT doc_id, unnest(list_zip(tk[1:len(tk)-1], tk[2:len(tk)])) AS p
      FROM lt WHERE len(tk) >= 2
    ),
    lmuni AS (SELECT w, c_w FROM read_parquet('{uni_glob}')),
    lmtot AS (SELECT CAST(sum(c_w) AS DOUBLE) AS T FROM lmuni),
    lmbi AS (SELECT w1, w2, c_b FROM read_parquet('{bi_glob}')),
    lmscore AS (
      SELECT z.doc_id,
             -ln(CASE WHEN b.c_b IS NOT NULL
                      THEN CAST(b.c_b AS DOUBLE) / u1.c_w
                      WHEN u2.c_w IS NOT NULL
                      THEN 0.4 * u2.c_w / (SELECT T FROM lmtot)
                      ELSE 0.4 / (SELECT T FROM lmtot) END) AS nll
      FROM (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM lmz) z
      LEFT JOIN lmbi b ON z.w1 = b.w1 AND z.w2 = b.w2
      LEFT JOIN lmuni u1 ON z.w1 = u1.w
      LEFT JOIN lmuni u2 ON z.w2 = u2.w
    ),
    lmagg AS (
      -- fixed-point mean mirroring the engine (floor(nll*1e9) summed as
      -- integers — summation-order-proof on both sides)
      SELECT doc_id,
             round(CAST(sum(CAST(floor(nll * 1e9) AS BIGINT)) AS DOUBLE)
                   / (count(*) * 1e9), 4) AS avg_nll,
             round(exp(CAST(sum(CAST(floor(nll * 1e9) AS BIGINT)) AS DOUBLE)
                   / (count(*) * 1e9)), 4) AS perplexity
      FROM lmscore GROUP BY doc_id
    ),
    -- Gopher duplicate-line stats recomputed over the same synthesized
    -- 2-token-line view the Spark side builds (trim + drop-empty mirror
    -- duplicate_line_stats exactly; the corpus itself is single-line)
    dlines AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 list_transform(
                   range(CAST(ceil(len(toks2) / 2.0) AS INT)),
                   i -> array_to_string(list_slice(toks2, i * 2 + 1, i * 2 + 2), ' ')
                 ),
                 l -> trim(l)
               ),
               l -> l <> ''
             ) AS lines
      FROM (SELECT doc_id, string_split(text, ' ') AS toks2 FROM documents)
    ),
    dlagg AS (
      SELECT doc_id,
             CAST(len(lines) AS INT) AS n_lines,
             coalesce(round(
               CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
               / nullif(len(lines), 0), 4), CAST(0.0 AS DOUBLE)) AS dup_line_frac,
             coalesce(round(
               CAST(list_aggregate(list_transform(lines,
                      l -> CASE WHEN len(list_filter(lines, x -> x = l)) > 1
                                THEN length(l) ELSE 0 END), 'sum') AS DOUBLE)
               / nullif(list_aggregate(list_transform(lines, l -> length(l)),
                        'sum'), 0), 4), CAST(0.0 AS DOUBLE)) AS dup_char_frac
      FROM dlines
    )
    SELECT d.doc_id,
           len(toks) AS n_tokens,
           cast(len(pc) + coalesce(list_aggregate(
             list_transform(pc, p -> cast(floor(greatest(length(p) - 1, 0) / 4) AS INT)),
             'sum'), 0) AS INT) AS n_bpe,
           md5({_NORM_SQL}) AS fp,
           l.lang_pred AS lang_pred,
           round({_QUALITY_SQL}, 4) AS quality,
           r.repetition AS repetition,
           m.n_masks AS n_masks,
           lm.avg_nll AS avg_nll,
           lm.perplexity AS perplexity,
           dl.n_lines AS n_lines,
           dl.dup_line_frac AS dup_line_frac,
           dl.dup_char_frac AS dup_char_frac
    FROM docs d
    JOIN lang l ON d.doc_id = l.doc_id
    JOIN rep r ON d.doc_id = r.doc_id
    JOIN masks m ON d.doc_id = m.doc_id
    LEFT JOIN lmagg lm ON d.doc_id = lm.doc_id
    JOIN dlagg dl ON d.doc_id = dl.doc_id
    """


def _two_token_lines(text: Column) -> Column:
    """``txt_profile``'s synthesized multi-line view of single-line text:
    line k joins space-split tokens 2k and 2k+1, lines joined on the unit
    separator. An odd last token stands alone (``zip_with`` pads with NULL,
    which ``concat_ws`` skips). The two index filters keep the token array
    outside every lambda, so it is split once per row."""
    toks = F.split(text, " ")
    # join/split on the unit separator, not '\n': a future corpus whose
    # text contains literal newlines would otherwise make Spark re-split
    # chunks the oracle treats as atomic (code-review r5)
    return F.array_join(
        F.zip_with(
            F.filter(toks, lambda t, i: i % 2 == 0),
            F.filter(toks, lambda t, i: i % 2 == 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        "\x1f",
    )


@register("txt_profile", _txt_profile_oracle)
def txt_profile(spark, sf_dir):
    from .functions.text import (
        bpe_ish_token_count,
        duplicate_line_stats,
        fingerprint,
        language_id,
        quality_score,
        repetition_ratio,
        scrub_pii,
        token_count,
    )

    d = load(spark, sf_dir, "documents")
    # Gopher duplicate-line rules (r4, pytest-only until now — VERDICT r4
    # #1): the corpus is single-line, so a deterministic multi-line view is
    # synthesized in-query (2-token lines; 181/500 sf0.01 docs then carry
    # real duplicate lines) and the oracle recomputes both fractions from
    # the same construction — same pattern as cur_paragraph_dedup's corpus.
    dls = duplicate_line_stats(_two_token_lines(F.col("text")), sep="\x1f")
    # PII is injected deterministically into every 11th doc so the scrub
    # pass has real work whose mask count the oracle recomputes (the
    # synthetic corpus itself contains no emails/URLs/IPs)
    injected = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(
            F.col("text"),
            F.lit(
                " contact bob@example.com at https://example.com/x from 10.0.0.1"
            ),
        ),
    ).otherwise(F.col("text"))
    scrubbed = scrub_pii(injected)

    def mask_count(token: str):
        return (
            F.length(scrubbed)
            - F.length(F.replace(scrubbed, F.lit(token), F.lit("")))
        ) / F.lit(len(token))

    profile = d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe"),
        fingerprint(F.col("text")).alias("fp"),
        language_id(F.col("text")).alias("lang_pred"),
        quality_score(F.col("text")).alias("quality"),
        repetition_ratio(F.col("text")).alias("repetition"),
        (mask_count("<EMAIL>") + mask_count("<URL>") + mask_count("<IP>"))
        .cast("int")
        .alias("n_masks"),
        dls.getField("n_lines").alias("n_lines"),
        dls.getField("dup_line_frac").alias("dup_line_frac"),
        dls.getField("dup_char_frac").alias("dup_char_frac"),
    )
    # CCNet-style LM-perplexity signal under the same driver row — scored
    # against the PERSISTED count tables (save_ngram_lm under the shared
    # write-once protocol; VERDICT r5 #4), so the graded plan carries two
    # vocab-table joins and NO training aggregates — the train-once 100 TB
    # shape the r5 bench measured 28% cheaper. The oracle reads the same
    # persisted parquet (_txt_profile_oracle).
    from .operators.curation import load_ngram_lm, ngram_lm_score

    model = load_ngram_lm(spark, _lm.materialize(spark, sf_dir))
    lm = ngram_lm_score(d, model=model).select("doc_id", "avg_nll", "perplexity")
    return profile.join(lm, "doc_id", "left")


# J8 — composite span-key lookup join (indra_task_evaluator.py:40-51):
# build `name_start_end`-style keys on both sides, broadcast equi-join.
@register(
    "j8_composite_key_join",
    """
    WITH keys AS (
      SELECT event_type || '_' || (user_id % 10) AS k, count(*) AS n_events
      FROM events GROUP BY 1
    ),
    dim AS (
      SELECT DISTINCT event_type || '_' || (user_id % 10) AS k,
             upper(event_type) AS label
      FROM events
    )
    SELECT keys.k AS k, n_events, label FROM keys JOIN dim ON keys.k = dim.k
    """,
)
def j8_composite_key_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    k = F.concat_ws("_", "event_type", F.pmod(F.col("user_id"), F.lit(10)))
    keys = ev.groupBy(k.alias("k")).agg(F.count("*").alias("n_events"))
    dim = ev.select(k.alias("k"), F.upper("event_type").alias("label")).distinct()
    return keys.join(F.broadcast(dim), "k").select("k", "n_events", "label")


# ---------------------------------------------------------------------------
# Canonicalization: char-3-gram Jaccard candidate pairs over part names.
@register(
    "can_jaccard_names",
    """
    WITH names AS (SELECT DISTINCT p_name AS name FROM part WHERE p_partkey <= 400),
    norm AS (
      SELECT name, upper(regexp_replace(name, '[^a-zA-Z0-9]', '', 'g')) AS nn FROM names
    ),
    grams AS (
      SELECT name,
             list_distinct(list_transform(
               range(1, greatest(length(nn) - 2, 1) + 1),
               i -> substr(nn, i, 3))) AS g
      FROM norm
    ),
    ex0 AS (SELECT name, len(g) AS n, unnest(g) AS gram FROM grams),
    hot AS (SELECT gram FROM ex0 GROUP BY gram HAVING count(*) > 200),
    ex AS (SELECT * FROM ex0 WHERE gram NOT IN (SELECT gram FROM hot)),
    shared AS (
      SELECT a.name AS name_a, b.name AS name_b, a.n AS na, b.n AS nb, count(*) AS shared
      FROM ex a JOIN ex b ON a.gram = b.gram AND a.name < b.name
      GROUP BY 1, 2, 3, 4
    )
    SELECT name_a, name_b, round(shared / (na + nb - shared), 4) AS jaccard
    FROM shared WHERE shared / (na + nb - shared) >= 0.5
    """,
)
def can_jaccard_names(spark, sf_dir):
    from .operators.canonical import jaccard_pairs

    names = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 400)
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    return jaccard_pairs(names, "name", threshold=0.5).withColumn(
        "jaccard", F.round("jaccard", 4)
    )


# Connected components with a recursive-CTE oracle: graph = mod-compressed
# part/supplier bipartite edges from high-quantity lineitems.
_CC_EDGES_SQL = """
      SELECT DISTINCT 'p' || (l_partkey % 211) AS src, 's' || (l_suppkey % 67) AS dst
      FROM lineitem WHERE l_quantity >= 49
"""


_PR_SCALE = 10**12
_PR_ITERATIONS = 10


def _cc_pr_sql() -> str:
    """cc oracle (recursive-CTE closure) + the fixed-point PageRank
    recurrence UNROLLED to _PR_ITERATIONS chained CTEs — every arithmetic
    step is integer (// floor division), so DuckDB must reproduce the
    engine's ranks bit-for-bit; no float tolerance anywhere."""
    its = "".join(
        f""",
    it{i} AS (
      SELECT s.b AS node,
             CAST((SELECT ({_PR_SCALE} // n) * 15 // 100 FROM nn)
                  + (85 * sum(t.r // d.d)) // 100 AS BIGINT) AS r
      FROM it{i - 1} t
      JOIN deg d ON d.node = t.node
      JOIN sym s ON s.a = t.node
      GROUP BY s.b
    )"""
        for i in range(1, _PR_ITERATIONS + 1)
    )
    return f"""
    WITH RECURSIVE edges AS ({_CC_EDGES_SQL}),
    sym AS (
      SELECT src AS a, dst AS b FROM edges
      UNION SELECT dst AS a, src AS b FROM edges
    ),
    reach(node, label) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.b, r.label FROM reach r JOIN sym s ON r.node = s.a
    ),
    deg AS (SELECT a AS node, count(*) AS d FROM sym GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM deg),
    it0 AS (
      SELECT node, CAST((SELECT {_PR_SCALE} // n FROM nn) AS BIGINT) AS r FROM deg
    ){its}
    SELECT 'cc' AS kind, node, min(label) AS component,
           CAST(NULL AS BIGINT) AS rank_int
    FROM reach GROUP BY node
    UNION ALL
    SELECT 'pr' AS kind, node, CAST(NULL AS VARCHAR) AS component,
           r AS rank_int
    FROM it{_PR_ITERATIONS}
    """


# CC + PageRank over the same graph, one labeled frame (r7: the 'pr' rows
# fold the fixed-point PageRank surface into this slot under the 50-row
# cap — operators/graph.py rationale: integer fixed-point makes the
# iterative result partition- and engine-invariant, so the oracle's
# unrolled recurrence must match exactly).
@register("cc_components", _cc_pr_sql)
def cc_components(spark, sf_dir):
    from .operators.canonical import connected_components
    from .operators.graph import pagerank_fixed_point

    li = load(spark, sf_dir, "lineitem")
    # materialized once: CC and PageRank both consume the same edge set,
    # which would otherwise re-scan lineitem twice
    edges = (
        li.filter(F.col("l_quantity") >= 49)
        .select(
            F.concat(F.lit("p"), F.col("l_partkey") % 211).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey") % 67).alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    cc = connected_components(edges).select(
        F.lit("cc").alias("kind"),
        "node",
        "component",
        F.lit(None).cast("long").alias("rank_int"),
    )
    pr = pagerank_fixed_point(
        edges, iterations=_PR_ITERATIONS, scale=_PR_SCALE
    ).select(
        F.lit("pr").alias("kind"),
        "node",
        F.lit(None).cast("string").alias("component"),
        "rank_int",
    )
    return cc.unionByName(pr)


# ---------------------------------------------------------------------------
# Q1 — TPC-H-style pricing summary through the spark.sql API (Catalyst
# produces the same plan as the DataFrame form; demonstrates the SQL
# surface). Floats rounded for engine parity.
_Q1_SQL = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


# (The former standalone q1_pricing_summary row is folded into
# olap_hll_rollup_cube's 'q1' branch, and u3_union_pos_neg into
# j3_j4_anti_negatives' 'u3_*' rows — VERDICT r6 #6 registry-slot audit
# under the driver's 50-row cap; both semantics stay driver-graded. The
# two freed slots grade the r7 temporal-join and TF-IDF surfaces below.)


# Temporal joins (operators/temporal.py) — the two classic event-log joins
# Spark lacks as built-ins, in one labeled frame over events (orders'
# 1995-2001 dates and events' 2024 timestamps never overlap, so a
# cross-table variant would be trivially empty — the p5_p6 lesson).
# 'asof' rows: per purchase event, the same user's latest click
# at-or-before the purchase — implemented as UNION + carry-forward WINDOW
# (one key shuffle, zero non-equi joins); the oracle states the same
# semantics as the naive inequality join + row_number, so a carry / tie /
# microsecond-truncation bug on either side hash-fails (1,838 matches at
# sf0.01). 'range' rows: per purchase, count + value-sum of the same
# user's views within ±1 day — implemented as the bucketed equi-join plan
# (sequence-exploded buckets, exact BETWEEN after co-location); the
# oracle is the naive BETWEEN join aggregated (1,177 rows at sf0.01).
@register(
    "tmp_asof_range_join",
    """
    WITH asof_pairs AS (
      SELECT p.event_id AS pid, c.event_id AS cid,
             epoch_us(p.ts) - epoch_us(c.ts) AS lag_us,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM events p JOIN events c
        ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
      WHERE p.event_type = 'purchase'
    )
    SELECT 'asof' AS kind, pid AS key, cid AS match_id,
           CAST(lag_us AS BIGINT) AS lag_us,
           CAST(NULL AS BIGINT) AS n_w, CAST(NULL AS DOUBLE) AS sum_v
    FROM asof_pairs WHERE rn = 1
    UNION ALL
    SELECT 'asof_fwd' AS kind, pid AS key, cid AS match_id,
           CAST(lag_us AS BIGINT) AS lag_us,
           CAST(NULL AS BIGINT) AS n_w, CAST(NULL AS DOUBLE) AS sum_v
    FROM (
      SELECT p.event_id AS pid, c.event_id AS cid,
             epoch_us(c.ts) - epoch_us(p.ts) AS lag_us,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts ASC, c.event_id ASC) AS rn
      FROM events p JOIN events c
        ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts >= p.ts
      WHERE p.event_type = 'purchase'
    ) WHERE rn = 1
    UNION ALL
    SELECT 'asof_near' AS kind, pid AS key, cid AS match_id,
           CAST(lag_us AS BIGINT) AS lag_us,
           CAST(NULL AS BIGINT) AS n_w, CAST(NULL AS DOUBLE) AS sum_v
    FROM (
      SELECT p.event_id AS pid, c.event_id AS cid,
             abs(epoch_us(c.ts) - epoch_us(p.ts)) AS lag_us,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC,
                        (c.ts <= p.ts) DESC,
                        CASE WHEN c.ts <= p.ts THEN -c.event_id
                             ELSE c.event_id END ASC
             ) AS rn
      FROM events p JOIN events c
        ON c.user_id = p.user_id AND c.event_type = 'click'
      WHERE p.event_type = 'purchase'
    ) WHERE rn = 1
    UNION ALL
    SELECT 'range' AS kind, p.event_id AS key,
           CAST(NULL AS BIGINT) AS match_id, CAST(NULL AS BIGINT) AS lag_us,
           count(*) AS n_w, round(sum(v.value), 4) AS sum_v
    FROM events p JOIN events v
      ON v.user_id = p.user_id AND v.event_type = 'view'
     AND v.ts BETWEEN p.ts - INTERVAL 1 DAY AND p.ts + INTERVAL 1 DAY
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def tmp_asof_range_join(spark, sf_dir):
    from .operators.temporal import asof_join, range_join_bucketed

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("c_event_id")
    )
    def asof_branch(kind: str, direction: str) -> DataFrame:
        a = asof_join(
            purchases,
            clicks,
            key="user_id",
            left_ts="ts",
            right_ts="ts",
            payload_cols=["c_event_id"],
            direction=direction,
        )
        return a.filter(F.col("asof_c_event_id").isNotNull()).select(
            F.lit(kind).alias("kind"),
            F.col("event_id").alias("key"),
            F.col("asof_c_event_id").alias("match_id"),
            F.col("asof_lag_us").alias("lag_us"),
            F.lit(None).cast("long").alias("n_w"),
            F.lit(None).cast("double").alias("sum_v"),
        )

    # all three merge_asof directions under the driver gate (late r7)
    asof_rows = (
        asof_branch("asof", "backward")
        .unionByName(asof_branch("asof_fwd", "forward"))
        .unionByName(asof_branch("asof_near", "nearest"))
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    bounded = purchases.withColumn(
        "lo", F.col("ts") - F.expr("INTERVAL 1 DAY")
    ).withColumn("hi", F.col("ts") + F.expr("INTERVAL 1 DAY")).drop("ts")
    pairs = range_join_bucketed(
        bounded,
        views,
        key="user_id",
        lo="lo",
        hi="hi",
        right_val="ts",
        bucket_width_s=86400,
    )
    range_rows = (
        pairs.groupBy("event_id")
        .agg(F.count("*").alias("n_w"), F.round(F.sum("value"), 4).alias("sum_v"))
        .select(
            F.lit("range").alias("kind"),
            F.col("event_id").alias("key"),
            F.lit(None).cast("long").alias("match_id"),
            F.lit(None).cast("long").alias("lag_us"),
            "n_w",
            "sum_v",
        )
    )
    return asof_rows.unionByName(range_rows)


# TF-IDF top terms (operators/terms.py) — the keyword leg of a quality /
# topic filter: two hash aggs (doc-term TF, vocab-sized DF), a broadcast
# 1-row corpus digest, smooth-idf scoring, deterministic top-3 per doc.
# The oracle recomputes the entire pipeline from raw text in SQL, so a
# tokenizer / idf / ranking drift on either side hash-fails.
@register(
    "txt_tfidf_topterms",
    """
    WITH tok AS (
      SELECT doc_id, t AS term
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t
            FROM documents)
      WHERE length(t) >= 2
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1), 4) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, CAST(rnk AS BIGINT) AS rnk, tf, df, score
    FROM (SELECT scored.*,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
)
def txt_tfidf_topterms(spark, sf_dir):
    from .operators.terms import tfidf_top_terms

    # fan out: tokenization + the tf explode otherwise run on the
    # single-row-group scan's 1-2 tasks (see load_fanout)
    return tfidf_top_terms(load_fanout(spark, sf_dir, "documents"), k=3).withColumn(
        "rnk", F.col("rnk").cast("long")
    )


# Rollup + Cube + HLL — hierarchical and full grouping-set totals plus the
# approximate-distinct scale path, one labeled frame (beyond the reference;
# standard OLAP breadth): ROLLUP over lineitem's (returnflag, linestatus)
# with revenue, CUBE over orders' (status, priority) counts-only (revenue
# null there), and an 'hll' row whose dim2 carries the sketch-error-bound
# invariant (approx_count_distinct within 5% of exact — the sketch value
# itself is engine-specific, the bound is not). Merged from the former
# olap_rollup_cube + agg_approx_distinct rows (50-entry driver cap).
@register(
    "olap_hll_rollup_cube",
    """
    SELECT 'rollup' AS op,
           coalesce(l_returnflag, 'ALL') AS dim1,
           coalesce(l_linestatus, 'ALL') AS dim2,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n,
           CAST(NULL AS DOUBLE) AS sum_qty, CAST(NULL AS DOUBLE) AS avg_disc
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube' AS op,
           coalesce(o_orderstatus, 'ALL') AS dim1,
           coalesce(o_orderpriority, 'ALL') AS dim2,
           CAST(NULL AS DOUBLE) AS revenue,
           count(*) AS n,
           CAST(NULL AS DOUBLE) AS sum_qty, CAST(NULL AS DOUBLE) AS avg_disc
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT 'hll' AS op, 'l_partkey' AS dim1, 'within_5pct' AS dim2,
           CAST(NULL AS DOUBLE) AS revenue,
           count(DISTINCT l_partkey) AS n,
           CAST(NULL AS DOUBLE) AS sum_qty, CAST(NULL AS DOUBLE) AS avg_disc
    FROM lineitem
    UNION ALL
    SELECT 'pctl' AS op, 'l_extendedprice_p50' AS dim1, 'within_1pct' AS dim2,
           CAST(NULL AS DOUBLE) AS revenue,
           count(*) AS n,
           CAST(NULL AS DOUBLE) AS sum_qty, CAST(NULL AS DOUBLE) AS avg_disc
    FROM lineitem
    UNION ALL
    SELECT 'q1' AS op, l_returnflag AS dim1, l_linestatus AS dim2,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty,
           round(avg(l_discount), 6) AS avg_disc
    FROM lineitem
    WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def olap_hll_rollup_cube(spark, sf_dir):
    def widen(df):
        return df.withColumn("sum_qty", F.lit(None).cast("double")).withColumn(
            "avg_disc", F.lit(None).cast("double")
        )

    li = load(spark, sf_dir, "lineitem")
    rollup = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
        )
        .select(
            F.lit("rollup").alias("op"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("dim1"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("dim2"),
            "revenue",
            "n",
        )
    )
    o = load(spark, sf_dir, "orders")
    cube = (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("cube").alias("op"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("dim1"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("dim2"),
            F.lit(None).cast("double").alias("revenue"),
            "n",
        )
    )
    hll = (
        li.agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        )
        .select(
            F.lit("hll").alias("op"),
            F.lit("l_partkey").alias("dim1"),
            F.when(
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                / F.col("exact_parts")
                <= 0.05,
                F.lit("within_5pct"),
            )
            .otherwise(F.lit("out_of_bound"))
            .alias("dim2"),
            F.lit(None).cast("double").alias("revenue"),
            F.col("exact_parts").alias("n"),
        )
    )
    # 'pctl' row (r7): the quantile-sketch scale path — percentile_approx
    # (GK-sketch, mergeable map-side partials) vs the exact percentile,
    # graded through the same error-bound-invariant pattern as 'hll': the
    # sketch value is engine-specific, the <=1% relative-error bound and
    # the row count are not.
    pctl = (
        li.agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_p50"),
            F.count("*").alias("n"),
        )
        .select(
            F.lit("pctl").alias("op"),
            F.lit("l_extendedprice_p50").alias("dim1"),
            F.when(
                F.abs(F.col("approx_p50") - F.col("exact_p50"))
                / F.col("exact_p50")
                <= 0.01,
                F.lit("within_1pct"),
            )
            .otherwise(F.lit("out_of_bound"))
            .alias("dim2"),
            F.lit(None).cast("double").alias("revenue"),
            F.col("n"),
        )
    )
    # Q1 branch: the TPC-H-style pricing summary through the spark.sql API
    # (Catalyst compiles it to the same plan as the DataFrame form —
    # demonstrating the SQL surface). Folded from the former standalone
    # q1_pricing_summary row (50-entry driver cap, VERDICT r6 #6).
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    q1 = spark.sql(_Q1_SQL).select(
        F.lit("q1").alias("op"),
        F.col("l_returnflag").alias("dim1"),
        F.col("l_linestatus").alias("dim2"),
        "revenue",
        "n",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("avg_disc").cast("double").alias("avg_disc"),
    )
    return (
        widen(rollup)
        .unionByName(widen(cube))
        .unionByName(widen(hll))
        .unionByName(widen(pctl))
        .unionByName(q1)
    )


# Window frame + JSON extraction — per-user running totals ordered by time
# (streaming-state twin in batch form), with the event's JSON props parsed
# into a bucket column on the same row. Merged from the former
# w1_running_totals + f12_json_extract rows (50-entry driver cap): the
# window algebra and query-time JSON path stay independently checked — a
# wrong frame breaks running_value, a wrong JSON parse breaks k_bucket.
@register(
    "w1_f12_running_json",
    """
    SELECT event_id, user_id,
           cast(row_number() OVER w AS BIGINT) AS seq,
           round(sum(value) OVER w, 4) AS running_value,
           cast(json_extract(props, '$.k') AS INT) % 10 AS k_bucket
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def w1_f12_running_json(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).cast("bigint").alias("seq"),
        F.round(F.sum("value").over(w), 4).alias("running_value"),
        (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_bucket"),
    )


# Cross-document paragraph dedup (operators/curation.paragraph_dedup,
# CCNet/Dolma boilerplate removal) under the hard driver signal. The
# fixture's documents are single-line, so a multi-paragraph corpus with
# REAL cross-doc duplicates is synthesized deterministically in-query:
# doc i = text_i + '\n\n' + text_{i+7} — every text appears in exactly
# two constructed docs (as first and second paragraph), making the
# keep-first/min-(id,pos) semantics fully observable. The oracle
# recomputes the whole flow in SQL (same normalization as the dedup
# rows; first occurrence encoded as doc_id*10+pos, pos < 10).
@register(
    "cur_paragraph_dedup",
    f"""
    WITH corpus AS (
      SELECT a.doc_id, a.text || chr(10) || chr(10) || b.text AS text
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 7
    ),
    split AS (
      SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM corpus
    ),
    paras AS (
      SELECT doc_id, unnest(range(len(ps))) AS pos, ps FROM split
    ),
    hashed AS (
      SELECT doc_id, pos, ps[pos + 1] AS para,
             md5(trim(regexp_replace(regexp_replace(lower(ps[pos + 1]),
                 '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS h
      FROM paras
    ),
    stats AS (
      SELECT h, count(DISTINCT doc_id) AS df,
             min(doc_id * 10 + pos) AS first_key
      FROM hashed GROUP BY h
    ),
    marked AS (
      SELECT p.doc_id, p.pos, p.para,
             (s.df < 2 OR s.first_key = p.doc_id * 10 + p.pos) AS keep
      FROM hashed p JOIN stats s ON p.h = s.h
    )
    SELECT doc_id AS id,
           coalesce(string_agg(CASE WHEN keep THEN para END,
                               chr(10) || chr(10) ORDER BY pos), '') AS text,
           count(*) AS n_paras,
           CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
    FROM marked GROUP BY doc_id
    """,
)
def cur_paragraph_dedup(spark, sf_dir):
    from .operators.curation import paragraph_dedup

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    partner = d.select(
        (F.col("doc_id") - 7).alias("doc_id"), F.col("text").alias("t2")
    )
    corpus = d.join(partner, "doc_id").select(
        "doc_id", F.concat_ws("\n\n", "text", "t2").alias("text")
    )
    return paragraph_dedup(corpus, min_df=2, keep_first=True)


# Overlapping token-window chunking (operators/curation.chunk_documents,
# the RAG/embedding ingestion op) under the hard driver signal: 32-token
# windows sharing 8 tokens (stride 24). Pure string/int algebra, so the
# oracle recomputes every chunk boundary and text exactly (Spark
# F.slice(arr, start, LEN) == DuckDB list_slice(arr, start, start+LEN-1),
# same convention dd_ngram_jaccard's oracle established).
@register(
    "cur_chunk_documents",
    f"""
    WITH sized AS (
      SELECT doc_id AS id, {_TOKS_SQL} AS toks,
             greatest(CAST(ceil((len({_TOKS_SQL}) - 8) / 24.0) AS INT), 1)
               AS n_chunks
      FROM documents
    ),
    chunks AS (
      SELECT id, n_chunks, toks, unnest(range(n_chunks)) AS chunk_id
      FROM sized
    )
    SELECT id, chunk_id, n_chunks,
           len(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32))
             AS n_tokens,
           array_to_string(
             list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')
             AS chunk_text
    FROM chunks
    """,
)
def cur_chunk_documents(spark, sf_dir):
    from .operators.curation import chunk_documents

    return chunk_documents(
        load(spark, sf_dir, "documents"), max_tokens=32, overlap=8
    )


# Sessionization — gap-based sessions as window algebra (event-pipeline op).
@register(
    "sess_gap_sessions",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS newf
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sid AS (
      SELECT user_id, ts, value,
             sum(newf) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, cast(session_id AS BIGINT) AS session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM sid GROUP BY user_id, session_id
    """,
)
def sess_gap_sessions(spark, sf_dir):
    from .operators.sessions import sessionize

    return sessionize(load(spark, sf_dir, "events"), gap_minutes=30)


# Benchmark contamination screen (operators/curation.py) — the n-gram
# train/eval overlap check a pretraining pipeline runs before drawing the
# training mix (GPT-3/PaLM decontamination recipe). The 'benchmark' is the
# deterministic doc_id % 17 slice of the corpus standing in for a held-out
# eval set, so the oracle recomputes the whole screen from scratch in SQL
# (shingle semantics shared with dd_ngram_jaccard's proven oracle).
@register(
    "cur_contamination",
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_filter(list_distinct(list_transform(
               range(greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')
             )), g -> g <> '') AS grams
      FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents)
    ),
    bench AS (SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id % 17 = 0),
    ex AS (
      SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS g FROM sh
      WHERE len(grams) > 0
      UNION ALL
      SELECT doc_id, 0 AS n_grams, NULL AS g FROM sh WHERE len(grams) = 0
    ),
    hits AS (
      SELECT e.doc_id, e.n_grams,
             CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      FROM ex e LEFT JOIN bench b ON e.g = b.g
      GROUP BY 1, 2
    )
    SELECT doc_id, n_grams, n_hit,
           round(CASE WHEN n_grams > 0 THEN n_hit / n_grams
                      ELSE CAST(0.0 AS DOUBLE) END, 4) AS contamination,
           (CASE WHEN n_grams > 0 THEN n_hit / n_grams
                 ELSE CAST(0.0 AS DOUBLE) END) >= 0.5 AS contaminated,
           TRUE AS bloom_ge_exact,
           TRUE AS fp_bound_ok
    FROM hits
    """,
)
def cur_contamination(spark, sf_dir):
    # r7: the screen runs through its Bloom-filter scale path
    # (operators/membership — the exact broadcast gram set replaced by
    # ~10 bits/gram, the 100 TB shape). The exact per-doc columns are
    # still produced and oracle-recomputed unchanged; the Bloom layer is
    # graded through two invariants the filter guarantees: per-doc
    # bloom_ge_exact (zero false negatives — a Bloom can only over-count)
    # and the corpus-level fp_bound_ok digest (observed false-positive
    # hits within 3x the nominal 1% rate, broadcast 1-row crossJoin).
    from .operators.curation import contamination_check_bloom

    # fan out: the shingle scan + the Bloom probe's k bit tests per gram
    # otherwise run on the single-row-group scan's 1-2 tasks (see load_fanout)
    docs = load_fanout(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    # localCheckpoint: the fp-bound digest below re-reads the screen, and
    # without the checkpoint the whole gram-index+probe pipeline is
    # evaluated once per consumer (stage profile: two ~50 executor-second
    # stages for one 50k-row result; measured 6.8s -> 4.5s checkpointed)
    screened = contamination_check_bloom(
        docs, bench, n=3, threshold=0.5, fpp=0.01
    ).localCheckpoint()
    fp_digest = screened.agg(
        (
            (F.sum("n_hit_bloom") - F.sum("n_hit"))
            <= F.greatest(
                0.03 * (F.sum("n_grams") - F.sum("n_hit")), F.lit(8.0)
            )
        ).alias("fp_bound_ok")
    )
    return screened.drop("n_hit_bloom").crossJoin(F.broadcast(fp_digest))


_PACK_MAX_TOKENS = 200


@artifact("pack", ("operators.curation", "functions.text"), ("documents",))
def _pack(spark, sf_dir, out):
    """pack_sequences(documents) under ``packed/`` — the cross-engine
    artifact: Spark's FFD wrote it, and BOTH the Spark digest and the DuckDB
    oracle recompute the packing invariants from these same bytes
    (VERDICT r4 #3)."""
    import os

    from .operators.curation import pack_sequences

    pack_sequences(
        load(spark, sf_dir, "documents"), _PACK_MAX_TOKENS, n_groups=16
    ).write.parquet(os.path.join(out, "packed"))


_CUR_MIXING_SQL = """
    WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    tot AS (SELECT sum(n * n) AS sw FROM counts),
    tgt AS (
      SELECT c.source, least(c.n, (200 * c.n * c.n) // t.sw) AS quota
      FROM counts c, tot t
    ),
    ranked AS (
      SELECT doc_id, source,
             cast(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(concat_ws('|', CAST(doc_id AS VARCHAR), '42'))
             ) AS INT) AS rn
      FROM documents
    ),
    mix AS (
      SELECT r.doc_id, r.source, r.rn
      FROM ranked r JOIN tgt t ON r.source = t.source
      WHERE r.rn <= t.quota
    ),
    pk AS (SELECT * FROM read_parquet('{pack_glob}')),
    pdoc AS (SELECT count(*) AS n_rows, count(DISTINCT id) AS n_ids FROM pk),
    dtok AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             t -> t <> '')) AS n_tok
      FROM documents
    ),
    ptok AS (
      SELECT (sum(CASE WHEN pk.n_tokens <> dtok.n_tok THEN 1 ELSE 0 END) = 0
              AND count(*) = (SELECT n_rows FROM pdoc)) AS tokens_ok
      FROM pk JOIN dtok ON pk.id = dtok.doc_id
    ),
    pbin AS (
      SELECT bin_id, CAST(sum(n_tokens) AS BIGINT) AS bt,
             max(CASE WHEN oversize THEN 1 ELSE 0 END) AS ov
      FROM pk GROUP BY bin_id
    ),
    pagg AS (
      SELECT CAST((SELECT n_rows FROM pdoc) AS BIGINT) AS pack_n_docs,
             ((SELECT n_rows FROM pdoc) = (SELECT n_ids FROM pdoc)
              AND (SELECT n_rows FROM pdoc) = (SELECT count(*) FROM documents)
              AND (SELECT tokens_ok FROM ptok)) AS pack_each_once_ok,
             CAST(count(*) AS BIGINT) AS pack_n_bins,
             (sum(CASE WHEN ov = 0 AND bt > {max_tok} THEN 1 ELSE 0 END) = 0)
               AS pack_budget_ok,
             (count(*) >= sum(CASE WHEN ov = 1 THEN 1 ELSE 0 END)
              + CAST(ceil(CAST(sum(CASE WHEN ov = 0 THEN bt ELSE 0 END) AS DOUBLE)
                          / {max_tok}) AS BIGINT)) AS pack_lb_ok,
             round(coalesce(avg(CASE WHEN ov = 0
                                     THEN CAST(bt AS DOUBLE) / {max_tok} END),
                            CAST(0.0 AS DOUBLE)), 4) AS pack_util
      FROM pbin
    )
    SELECT mix.*, pagg.* FROM mix, pagg
"""


def _cur_mixing_packing_oracle() -> str:
    """Lazy oracle: recomputes the mixing draw from the documents view AND
    every packing invariant from the parquet the engine's FFD materialized
    (each doc exactly once with its true token count, per-bin budget,
    bin-count lower bound n_oversize + ceil(regular_tokens/max), mean
    utilization) — the FFD output is cross-engine-verified, not pinned."""
    import os

    glob = os.path.join(_pack.alias(_oracle_sf_dir()), "packed", "*.parquet")
    return _CUR_MIXING_SQL.format(pack_glob=glob, max_tok=_PACK_MAX_TOKENS)


# Temperature-weighted source mixing (operators/curation.py) — per-source
# quotas w_i ~ count_i^2 (T = 0.5: the integral-exponent case stays in
# exact integer arithmetic, so DuckDB recomputes the quota bit-for-bit),
# drawn by the engine's portable md5 hash order. 200-doc mixture — MERGED
# (VERDICT r4 #3, 50-slot cap) with the pack_sequences digest: every
# mixing row carries the 1-row packing-invariant digest recomputed by both
# engines from the materialized packed parquet.
@register("cur_source_mixing", _cur_mixing_packing_oracle)
def cur_source_mixing(spark, sf_dir):
    import os

    from .operators.curation import mix_sources, source_mix_targets

    docs = load(spark, sf_dir, "documents")
    targets = source_mix_targets(docs, total=200, temperature=0.5)
    mixed = mix_sources(docs, targets)

    from .functions.text import token_count

    p = spark.read.parquet(os.path.join(_pack.materialize(spark, sf_dir), "packed"))
    pdoc = p.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("id").alias("n_ids"),
    )
    dtok = docs.select("doc_id", token_count(F.col("text")).alias("n_tok"))
    # per-bin audit
    pbin = p.groupBy("bin_id").agg(
        F.sum("n_tokens").cast("long").alias("bt"),
        F.max(F.col("oversize").cast("int")).alias("ov"),
    )
    reg_tokens = F.sum(F.when(F.col("ov") == 0, F.col("bt")).otherwise(F.lit(0)))
    n_oversize = F.sum(F.col("ov"))
    pagg = pbin.agg(
        F.count("*").cast("long").alias("pack_n_bins"),
        (
            F.sum(
                ((F.col("ov") == 0) & (F.col("bt") > _PACK_MAX_TOKENS)).cast("int")
            )
            == 0
        ).alias("pack_budget_ok"),
        (
            F.count("*")
            >= n_oversize
            + F.ceil(reg_tokens.cast("double") / F.lit(_PACK_MAX_TOKENS)).cast(
                "long"
            )
        ).alias("pack_lb_ok"),
        F.round(
            F.coalesce(
                F.avg(
                    F.when(
                        F.col("ov") == 0,
                        F.col("bt").cast("double") / F.lit(_PACK_MAX_TOKENS),
                    )
                ),
                F.lit(0.0),
            ),
            4,
        ).alias("pack_util"),
    )
    tok_match = (
        p.join(dtok, p["id"] == dtok["doc_id"])
        .agg(
            (F.sum((F.col("n_tokens") != F.col("n_tok")).cast("int")) == 0).alias(
                "tokens_eq"
            ),
            F.count("*").alias("n_joined"),
        )
    )
    n_docs_total = docs.agg(F.count("*").alias("n_docs_total"))
    digest = (
        pdoc.crossJoin(tok_match)
        .crossJoin(n_docs_total)
        .crossJoin(pagg)
        .select(
            F.col("n_rows").alias("pack_n_docs"),
            (
                (F.col("n_rows") == F.col("n_ids"))
                & (F.col("n_rows") == F.col("n_docs_total"))
                & F.col("tokens_eq")
                & (F.col("n_joined") == F.col("n_rows"))
            ).alias("pack_each_once_ok"),
            "pack_n_bins",
            "pack_budget_ok",
            "pack_lb_ok",
            "pack_util",
        )
    )
    return mixed.crossJoin(digest)


# The complete MinHash-LSH fuzzy-dedup composite (candidate pairs ->
# connected components -> keeper per cluster) under the hard driver signal
# (VERDICT r2 #2). HYBRID oracle since r5: the assignment is materialized
# to parquet and DuckDB independently recomputes the counts and the
# keeper-is-min / clusters-eq-keepers invariants from it (plus doc-count
# equality against the documents view); closure_ok stays an engine-side
# check (the candidate edges are xxhash64-keyed) expected literal true;
# only the assignment hash is pinned.
@artifact("fuzzy", ("operators.dedup", "operators.canonical"), ("documents",))
def _fuzzy(spark, sf_dir, out):
    """fuzzy_dedup(documents) under ``assign/`` — (id, keeper_id,
    is_keeper), the cross-engine artifact for dd_fuzzy_dedup's hybrid
    oracle."""
    import os

    from .operators.dedup import fuzzy_dedup

    fuzzy_dedup(load_fanout(spark, sf_dir, "documents")).write.parquet(
        os.path.join(out, "assign")
    )


def _dd_fuzzy_dedup_oracle() -> str | None:
    import os

    pinned = golden_sql("dd_fuzzy_dedup")
    if pinned is None:
        return None
    glob = os.path.join(_fuzzy.alias(_oracle_sf_dir()), "assign", "*.parquet")
    return f"""
    WITH a AS (SELECT * FROM read_parquet('{glob}')),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT keeper_id) AS BIGINT) AS n_clusters,
             CAST(sum(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keepers,
             (sum(CASE WHEN keeper_id > id THEN 1 ELSE 0 END) = 0
              AND count(*) = (SELECT count(*) FROM documents))
               AS keeper_is_min_ok
      FROM a
    )
    SELECT agg.n_docs, agg.n_clusters, agg.n_keepers, agg.keeper_is_min_ok,
           g.assign_hash, true AS closure_ok,
           (agg.n_clusters = agg.n_keepers) AS clusters_eq_keepers
    FROM agg, ({pinned}) AS g
    """


@register("dd_fuzzy_dedup", _dd_fuzzy_dedup_oracle)
def dd_fuzzy_dedup(spark, sf_dir):
    import os

    from .operators.dedup import minhash_lsh_candidates

    docs = load_fanout(spark, sf_dir, "documents")
    fd = spark.read.parquet(os.path.join(_fuzzy.materialize(spark, sf_dir), "assign"))
    asg = fd.select("id", "keeper_id")
    cands = minhash_lsh_candidates(docs).filter(F.col("est_jaccard") >= 0.7)
    viol = (
        cands.select("id_a", "id_b")
        .join(
            asg.select(F.col("id").alias("id_a"), F.col("keeper_id").alias("k_a")),
            "id_a",
        )
        .join(
            asg.select(F.col("id").alias("id_b"), F.col("keeper_id").alias("k_b")),
            "id_b",
        )
        .filter(F.col("k_a") != F.col("k_b"))
    )
    digest = fd.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("keeper_id").alias("n_clusters"),
        F.sum(F.col("is_keeper").cast("int")).cast("long").alias("n_keepers"),
        (F.min((F.col("keeper_id") <= F.col("id")).cast("int")) == 1).alias(
            "keeper_is_min_ok"
        ),
        F.bit_xor(F.xxhash64("id", "keeper_id")).alias("assign_hash"),
    )
    return (
        digest.crossJoin(viol.agg((F.count("*") == 0).alias("closure_ok")))
        .withColumn("clusters_eq_keepers", F.col("n_clusters") == F.col("n_keepers"))
    )


@artifact(
    "stream_equiv",
    ("streaming.incremental", "operators.dedup"),
    ("documents", "events"),
)
def _stream_equiv(spark, sf_dir, out):
    """The drained sinks of the two streaming jobs st_stream_batch_equiv
    compares (``dedup_out/``, ``win_out/``), so repeated runs reuse them."""
    import os
    import shutil

    from .streaming.incremental import run_windowed_events_stream, stream_dedup_docs

    # file stream sources need directories; the driver tables are files
    load(spark, sf_dir, "documents").write.parquet(f"{out}/docs_src")
    load(spark, sf_dir, "events").write.parquet(f"{out}/events_src")
    stream_dedup_docs(spark, f"{out}/docs_src", f"{out}/dedup_out", f"{out}/dedup_ckpt")
    run_windowed_events_stream(
        spark, f"{out}/events_src", f"{out}/win_out", f"{out}/win_ckpt"
    )
    # the file-sink _spark_metadata log records ABSOLUTE file paths; a
    # batch read resolves the file list through it, so after the rename
    # it would point at the vanished scratch path. The sinks are final
    # (the root is write-once) — drop the logs and let the batch read
    # list the directory directly.
    for sink in ("dedup_out", "win_out"):
        shutil.rmtree(os.path.join(out, sink, "_spark_metadata"), ignore_errors=True)


# Streaming/batch equivalence under the hard driver signal (VERDICT r2 #4):
# the query DRAINS two real Structured Streaming jobs (AvailableNow, fresh
# checkpoint per call) — exact-dedup with cross-batch state and the
# watermarked sliding-window aggregate — then compares their sink contents
# row-by-row against the batch twins IN the query (all_match) and returns
# counts a DuckDB oracle recomputes independently from the raw tables: the
# stream's distinct-content count, and the number of watermark-closed
# (window, event_type) groups (win_end <= max(ts) - 15min; 10min windows
# sliding by 5 => every event covers exactly two window starts).
@register(
    "st_stream_batch_equiv",
    f"""
    WITH keys AS (SELECT count(DISTINCT md5({_NORM_SQL})) AS n FROM documents),
    mx AS (SELECT max(epoch(ts)) AS m FROM events),
    wins AS (
      SELECT DISTINCT floor(epoch(ts) / 300) * 300 - 300 * off.o AS ws, event_type
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o) off
    ),
    closed AS (SELECT count(*) AS n FROM wins, mx WHERE ws + 600 <= m - 900)
    SELECT 'stream_dedup' AS method,
           (SELECT n FROM keys) AS n_stream,
           (SELECT n FROM keys) AS n_batch,
           true AS all_match
    UNION ALL
    SELECT 'windowed_agg',
           (SELECT n FROM closed),
           (SELECT n FROM closed),
           true
    """,
)
def st_stream_batch_equiv(spark, sf_dir):
    from .operators.dedup import normalized_text
    from .streaming.incremental import windowed_event_counts

    root = _stream_equiv.materialize(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    events = load(spark, sf_dir, "events")
    d_out = spark.read.parquet(f"{root}/dedup_out").select("content_key")
    batch_keys = docs.select(
        F.md5(normalized_text(F.col("text"))).alias("content_key")
    ).distinct()
    dd = (
        d_out.withColumn("__s", F.lit(1))
        .join(batch_keys.withColumn("__b", F.lit(1)), "content_key", "full")
        .agg(
            F.count("__s").alias("n_stream"),
            F.count("__b").alias("n_batch"),
            (
                F.count(F.when(F.col("__s").isNull() | F.col("__b").isNull(), 1)) == 0
            ).alias("all_match"),
        )
    )

    w_out = spark.read.parquet(f"{root}/win_out")
    wm = events.agg(
        (F.max(F.col("ts").cast("timestamp")) - F.expr("INTERVAL 15 MINUTES")).alias("wm")
    )
    closed_batch = (
        windowed_event_counts(events)
        .crossJoin(wm)
        .filter(F.col("win_end") <= F.col("wm"))
        .drop("wm")
    )
    wd = (
        w_out.withColumnRenamed("n", "n_s").withColumnRenamed("total_value", "tv_s")
        .join(
            closed_batch.withColumnRenamed("n", "n_b").withColumnRenamed(
                "total_value", "tv_b"
            ),
            ["win_start", "win_end", "event_type"],
            "full",
        )
        .agg(
            F.count("n_s").alias("n_stream"),
            F.count("n_b").alias("n_batch"),
            (
                F.count(
                    F.when(
                        F.col("n_s").isNull()
                        | F.col("n_b").isNull()
                        | (F.col("n_s") != F.col("n_b"))
                        | (F.col("tv_s") != F.col("tv_b")),
                        1,
                    )
                )
                == 0
            ).alias("all_match"),
        )
    )
    return dd.select(F.lit("stream_dedup").alias("method"), "n_stream", "n_batch", "all_match").unionByName(
        wd.select(F.lit("windowed_agg").alias("method"), "n_stream", "n_batch", "all_match")
    )


# the artifacts the oracles read; entry() warms every one
ORACLE_ARTIFACTS = (_kg, *_PAIRS.values(), _canon, _mhc, _simlsh, _ann, _lm, _pack, _fuzzy)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    """Resolve the oracle map. Callable entries (lazy oracles embedding the
    stage root) are invoked here so the root reflects the CURRENT
    SPARK_GRAFT_ORACLE_SF, in lockstep with entry()'s pre-materialization."""
    out: dict[str, str] = {}
    for name, (_, sql) in REGISTRY.items():
        resolved = sql() if callable(sql) else sql
        if resolved is not None:
            out[name] = resolved
    return out
