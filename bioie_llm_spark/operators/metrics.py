"""Evaluation aggregates (SURVEY.md §2.4 A5-A11) as pure DataFrame aggs —
the sklearn `precision_recall_fscore_support` calls of the reference
(evaluator.py:10-31) re-derived from tp/fp/fn counts so they distribute.

Each aggregate references its input frame ONCE. The input of a scored
task is the tail of a long lazy chain (seeded sample -> prompt build ->
`mapInPandas` generate -> mention matcher); every extra reference
is a separate branch that re-runs that whole chain, Python worker
included, because branches ending in different aggregates share no
exchange. So `classification_metrics` folds its input into a (pred,
true) count table first and derives every number from that one table —
no self-join, no cross join. The shuffles left are on the (pred, true)
and label columns (tiny cardinality) with map-side partial aggregation
doing ~all of the work, then a driver-sized reduce.

NULL labels (a ragged ``arrays_zip`` pads the shorter side with NULL)
form a class of their own with zero tp/fp/fn; ``accuracy`` averages only
the pairs whose two labels are non-NULL, ``n`` counts every pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def classification_metrics(
    pairs: DataFrame, pred_col: str = "pred", true_col: str = "true"
) -> DataFrame:
    """(pred, true) label pairs -> one row: (n, accuracy, micro_precision,
    micro_recall, micro_f1, macro_precision, macro_recall, macro_f1,
    weighted_precision, weighted_recall, weighted_f1).

    Matches sklearn `precision_recall_fscore_support` semantics for every
    average the reference emits (evaluator.py:16-18, 29-31): per-class
    tp/fp/fn over the union of labels seen in pred or true; macro =
    unweighted mean over classes; weighted = mean weighted by true support
    (classes with zero support contribute 0 weight); micro = global
    tp/(tp+fp) etc. (== accuracy for single-label multiclass).

    ``pairs`` is referenced once: a (pred, true) count table, each count
    row exploded into a pred-label contribution (tp, fp and the row
    totals) and a true-label contribution (fn), one group-by on the label
    for the per-class P/R/F1, and one global aggregate for every column.

    NULL labels (a ragged ``arrays_zip`` pads the shorter side with
    NULL): a NULL label is a class with tp = fp = fn = 0, so it counts in
    the macro averages; a pair with a NULL side is neither a hit nor a
    miss for any class; ``accuracy`` averages only the pairs where both
    labels are non-NULL and is NULL when there are none; ``n`` counts
    every pair (0 on empty input, where the macro averages are NULL).
    """
    p, t = F.col(pred_col), F.col(true_col)
    counts = pairs.groupBy(p.alias("pred"), t.alias("true")).count()
    c = F.col("count")
    zero = F.lit(0).cast("long")
    # equality is NULL when either side is NULL: such a count lands in
    # neither hit nor miss, but still names its labels as classes
    hit = F.when(F.col("pred") == F.col("true"), c).otherwise(zero)
    miss = F.when(F.col("pred") != F.col("true"), c).otherwise(zero)
    compared = F.when(F.col("pred").isNotNull() & F.col("true").isNotNull(), c).otherwise(zero)

    def contribution(label, tp=zero, fp=zero, fn=zero, n=zero, compared=zero):
        return F.struct(
            F.col(label).alias("label"), tp.alias("tp"), fp.alias("fp"),
            fn.alias("fn"), n.alias("n"), compared.alias("compared"),
        )

    per_class = (
        counts.select(
            F.inline(
                F.array(
                    contribution("pred", tp=hit, fp=miss, n=c, compared=compared),
                    contribution("true", fn=miss),
                )
            )
        )
        .groupBy("label")
        .agg(*(F.sum(k).alias(k) for k in ("tp", "fp", "fn", "n", "compared")))
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    per_class = per_class.withColumn(
        "precision",
        F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0)),
    ).withColumn(
        "recall",
        F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(0.0)),
    ).withColumn(
        "f1",
        F.when(
            F.col("precision") + F.col("recall") > 0,
            2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
        ).otherwise(F.lit(0.0)),
    )
    # try_divide + coalesce: zero-tp corners (all predictions wrong, empty
    # class) must yield 0.0 metrics, not ANSI division-by-zero errors
    support = tp + fn  # sklearn weights by TRUE support
    totals = per_class.agg(
        F.coalesce(F.sum("n"), zero).alias("n"),
        F.sum("compared").alias("compared"),
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn"),
        F.avg("precision").alias("macro_precision"),
        F.avg("recall").alias("macro_recall"),
        F.avg("f1").alias("macro_f1"),
        F.sum(support).alias("total_support"),
        F.sum(support * F.col("precision")).alias("w_p"),
        F.sum(support * F.col("recall")).alias("w_r"),
        F.sum(support * F.col("f1")).alias("w_f"),
    ).select(
        "n",
        # the matched pairs are exactly the tp of every class
        F.try_divide(tp.cast("double"), F.col("compared")).alias("accuracy"),
        F.coalesce(F.try_divide(tp, tp + fp), F.lit(0.0)).alias("micro_precision"),
        F.coalesce(F.try_divide(tp, tp + fn), F.lit(0.0)).alias("micro_recall"),
        "macro_precision",
        "macro_recall",
        "macro_f1",
        *(
            F.coalesce(F.try_divide(F.col(w), F.col("total_support")), F.lit(0.0)).alias(name)
            for w, name in (
                ("w_p", "weighted_precision"),
                ("w_r", "weighted_recall"),
                ("w_f", "weighted_f1"),
            )
        ),
    )
    micro_p, micro_r = F.col("micro_precision"), F.col("micro_recall")
    return totals.select(
        "n", "accuracy", "micro_precision", "micro_recall",
        F.coalesce(
            F.try_divide(2 * micro_p * micro_r, micro_p + micro_r), F.lit(0.0)
        ).alias("micro_f1"),
        "macro_precision", "macro_recall", "macro_f1",
        "weighted_precision", "weighted_recall", "weighted_f1",
    )


def full_matches(
    pairs: DataFrame, src_col: str = "src", pred_col: str = "pred", true_col: str = "true"
) -> DataFrame:
    """A6 (generative_task_evaluator.py:88-110): a query counts as a FULL
    match iff every one of its positional predictions is correct.
    Returns one row (full_match_count, query_count)."""
    per_src = pairs.groupBy(src_col).agg(
        F.min((F.col(pred_col) == F.col(true_col)).cast("int")).alias("all_correct")
    )
    return per_src.agg(
        F.sum("all_correct").alias("full_match_count"),
        F.count("*").alias("query_count"),
    )


def consensus(
    results: DataFrame,
    src_col: str = "src",
    pred_col: str = "pred",
    true_col: str = "true",
    n_models: int | None = None,
) -> DataFrame:
    """A9 (binary_task_evaluator.py:75-83): srcs where all models agree,
    with correctness of the consensus vote vs gold."""
    g = results.groupBy(src_col).agg(
        F.countDistinct(pred_col).alias("n_preds"),
        F.count("*").alias("n_models"),
        F.first(pred_col).alias("vote"),
        F.first(true_col).alias("true"),
    )
    if n_models is not None:
        g = g.filter(F.col("n_models") == n_models)
    return g.filter(F.col("n_preds") == 1).select(
        src_col, "vote", "true", (F.col("vote") == F.col("true")).alias("correct")
    )


def confusion_matrix(
    pairs: DataFrame, pred_col: str = "pred", true_col: str = "true"
) -> DataFrame:
    """A10 long-form confusion counts (evaluator.py:135-159); pivot to wide
    at the driver only for display."""
    return (
        pairs.groupBy(F.col(true_col).alias("true"), F.col(pred_col).alias("pred"))
        .agg(F.count("*").alias("n"))
        .orderBy("true", "pred")
    )


def triple_pr(extracted: DataFrame, gold: DataFrame) -> DataFrame:
    """Triple-set precision/recall vs a gold set (the BASELINE.json grade):
    distinct (subj,pred,obj) on both sides, FULL outer join, then every
    count and derived metric from ONE aggregate — a single Spark job
    (the previous form ran three separate count() actions; VERDICT r2 #7).
    Lazy: no driver action happens here at all.
    One row: (n_extracted, n_gold, n_matched, precision, recall, f1)."""
    e = extracted.select("subj", "pred", "obj").distinct().withColumn("__e", F.lit(1))
    g = gold.select("subj", "pred", "obj").distinct().withColumn("__g", F.lit(1))
    joined = e.join(g, ["subj", "pred", "obj"], "full")
    counts = joined.agg(
        F.count("__e").alias("n_extracted"),
        F.count("__g").alias("n_gold"),
        F.count(F.when(F.col("__e").isNotNull() & F.col("__g").isNotNull(), 1)).alias(
            "n_matched"
        ),
    )
    prec = F.coalesce(F.try_divide("n_matched", "n_extracted"), F.lit(0.0))
    rec = F.coalesce(F.try_divide("n_matched", "n_gold"), F.lit(0.0))
    with_pr = counts.select(
        "n_extracted", "n_gold", "n_matched",
        prec.alias("precision"), rec.alias("recall"),
    )
    return with_pr.select(
        "*",
        F.coalesce(
            F.try_divide(
                2 * F.col("precision") * F.col("recall"),
                F.col("precision") + F.col("recall"),
            ),
            F.lit(0.0),
        ).alias("f1"),
    )
