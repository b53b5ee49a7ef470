"""Hypothesis property tests: Spark scoring kernels == pure-Python twins on
generated inputs (SURVEY.md §7 'property-test against a pure-Python
reimplementation'). One Spark job per property (batched examples) keeps
runtime sane."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bioie_llm_spark.functions.cleaning import py_extract_choice, py_match_mentions
from bioie_llm_spark.operators.setops import py_sort_and_pad, sort_and_pad

name_st = st.text(
    alphabet="ABXY19-_", min_size=1, max_size=6
).filter(lambda s: s.strip("-_"))
arr_st = st.lists(name_st, min_size=0, max_size=12)


def _run_sort_and_pad_batch(spark, cases, k):
    df = spark.createDataFrame(
        [(i, p, t) for i, (p, t) in enumerate(cases)],
        "id int, pred array<string>, true array<string>",
    )
    p_out, t_out = sort_and_pad(F.col("pred"), F.col("true"), k)
    rows = df.select("id", p_out.alias("p"), t_out.alias("t")).orderBy("id").collect()
    return [(r["p"], r["t"]) for r in rows]


def test_sort_and_pad_property(spark):
    cases = []

    @settings(max_examples=80, deadline=None, suppress_health_check=list(HealthCheck))
    @given(arr_st, arr_st)
    def collect(pred, true):
        cases.append((pred, true))

    collect()
    got = _run_sort_and_pad_batch(spark, cases, 10)
    for (pred, true), (gp, gt) in zip(cases, got):
        ep, et = py_sort_and_pad(pred, true, 10)
        assert gp == ep and gt == et, (pred, true)


def test_sort_and_pad_invariants(spark):
    """Structural invariants: outputs equal length when pred padded; common
    items aligned; length <= k (pred may pad up to len(true))."""
    cases = []

    @settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
    @given(arr_st, arr_st)
    def collect(pred, true):
        cases.append((pred, true))

    collect()
    for pred, true in cases:
        p, t = py_sort_and_pad(pred, true, 10)
        assert len(t) <= 10 and len(p) >= len(t)
        common = set(pred) & set(true)
        for i in range(min(len(p), len(t))):
            if p[i] == t[i]:
                assert p[i] in common or p[i] == "NONE"


# matcher alphabet: word and boundary characters, every regex metacharacter,
# and the Java quoting escapes \Q / \E as whole pieces
_MATCH_PIECES = list("ABXY19-_ .(),\\^$|?*+[]{}") + ["\\E", "\\Q"]


def _pieces(max_size):
    return st.lists(st.sampled_from(_MATCH_PIECES), max_size=max_size).map("".join)


def test_match_mentions_property_batched(spark):
    from bioie_llm_spark.functions.cleaning import match_mentions_expr

    text_st = st.none() | _pieces(40)
    golds_st = st.none() | st.lists(st.none() | _pieces(6), min_size=1, max_size=5)
    cases = []

    @settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
    @given(text_st, golds_st)
    def collect(resp, golds):
        cases.append((resp, golds))

    collect()
    df = spark.createDataFrame(
        [(i, r, g) for i, (r, g) in enumerate(cases)],
        "id int, response string, golds array<string>",
    )
    rows = (
        df.withColumn("m", match_mentions_expr(F.col("response"), F.col("golds")))
        .orderBy("id")
        .collect()
    )
    for row, (resp, golds) in zip(rows, cases):
        assert row["m"] == py_match_mentions(resp, golds), (resp, golds)


def test_extract_choice_property():
    """Pure-Python twin obeys its contract on generated inputs (the Spark
    expression equivalence is covered in test_cleaning with fixed cases)."""

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet="yesno YESNO!,.", max_size=30))
    def check(resp):
        out = py_extract_choice(resp, ["yes", "no"])
        assert out in {"yes", "no", "none"}
        toks = [__import__("re").sub(r"[^a-zA-Z]", "", t).lower() for t in resp.split()]
        first = next((t for t in toks if t in {"yes", "no"}), "none")
        assert out == first

    check()


def test_context_budget(spark):
    from bioie_llm_spark.functions.prompts import apply_context_budget

    df = spark.createDataFrame(
        [("a" * 50,), ("b" * 200,)], "prompt string"
    )
    ok, overflow = apply_context_budget(df, max_len=120, max_new_tokens=20)
    assert ok.count() == 1
    o = overflow.first()
    assert o["n_overflow"] == 1 and o["max_prompt_len"] == 200 and o["budget"] == 100


def test_classification_metrics_property(spark):
    """classification_metrics vs a pure-Python sklearn-semantics twin on
    random (pred, true) multisets — every output column must agree,
    including the NULL labels a ragged ``arrays_zip`` produces and the
    empty input. NULL semantics: a NULL label is a class with
    tp = fp = fn = 0 (it counts in the macro averages); a pair with a NULL
    side is neither a hit nor a miss for any class; ``accuracy`` averages
    only the pairs where both labels are non-NULL (NULL when there are
    none); ``n`` counts every pair."""
    import math

    from hypothesis import example

    from bioie_llm_spark.operators.metrics import classification_metrics

    label_st = st.sampled_from(["a", "b", "c", "d", None])
    pairs_st = st.lists(st.tuples(label_st, label_st), min_size=0, max_size=30)

    def ratio(num, den):
        return num / den if den else 0.0

    def py_metrics(pairs):
        compared = [(p, t) for p, t in pairs if p is not None and t is not None]
        labels = {p for p, _ in pairs} | {t for _, t in pairs}
        per = []
        for lab in labels:
            tp = sum(1 for p, t in compared if p == lab and t == lab)
            fp = sum(1 for p, t in compared if p == lab and t != lab)
            fn = sum(1 for p, t in compared if t == lab and p != lab)
            prec, rec = ratio(tp, tp + fp), ratio(tp, tp + fn)
            per.append((prec, rec, ratio(2 * prec * rec, prec + rec), tp, fp, fn))
        tp, fp, fn = (sum(c[i] for c in per) for i in (3, 4, 5))
        support = [c[3] + c[5] for c in per]
        micro_p, micro_r = ratio(tp, tp + fp), ratio(tp, tp + fn)

        def macro(i):
            return sum(c[i] for c in per) / len(per) if per else None

        def weighted(i):
            return ratio(sum(c[i] * s for c, s in zip(per, support)), sum(support))

        return {
            "n": len(pairs),
            "accuracy": (
                sum(1 for p, t in compared if p == t) / len(compared)
                if compared else None
            ),
            "micro_precision": micro_p,
            "micro_recall": micro_r,
            "micro_f1": ratio(2 * micro_p * micro_r, micro_p + micro_r),
            "macro_precision": macro(0),
            "macro_recall": macro(1),
            "macro_f1": macro(2),
            "weighted_precision": weighted(0),
            "weighted_recall": weighted(1),
            "weighted_f1": weighted(2),
        }

    @given(pairs_st)
    @example([])
    @example([(None, None)])
    @example([("a", None), (None, "b")])
    @settings(max_examples=20, deadline=None)
    def check(pairs):
        df = spark.createDataFrame(pairs, "pred string, true string")
        got = classification_metrics(df).first().asDict()
        want = py_metrics(pairs)
        assert set(got) == set(want)
        for k, v in want.items():
            if v is None:
                assert got[k] is None, (k, got[k], pairs)
            else:
                assert got[k] is not None and math.isclose(got[k], v, abs_tol=1e-9), (
                    k, got[k], v, pairs,
                )

    check()


# --- ExactSubstr window dedup: Spark == pure-Python twin -------------------

def _py_substr_oracle(docs, w):
    """Pure-Python ExactSubstr twin: global (id, pos)-first occurrence
    keeps; returns {id: (n_win, n_dup_win)} and {id: clean_text}."""
    first = {}
    for i, t in sorted(docs):
        for p in range(1, len(t) - w + 2, w):
            first.setdefault(t[p - 1 : p - 1 + w], (i, p))
    stats, clean = {}, {}
    for i, t in docs:
        wins = [(p, t[p - 1 : p - 1 + w]) for p in range(1, len(t) - w + 2, w)]
        n_dup = sum(1 for p, win in wins if first[win] != (i, p))
        stats[i] = (len(wins), n_dup)
        kept = "".join(win for p, win in wins if first[win] == (i, p))
        clean[i] = kept + t[(len(t) // w) * w :]
    return stats, clean


def test_substring_dedup_property(spark):
    """Generated corpora over a tiny alphabet (forces cross-doc and
    intra-doc window collisions, lengths incl. exact multiples of w):
    stats and span removal match the python twin, and
    len(clean) = len(text) - w * n_dup_win holds everywhere."""
    from bioie_llm_spark.operators.dedup import (
        remove_dup_spans,
        substring_dup_stats,
    )

    w = 8
    cases = []

    @settings(max_examples=120, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.text(alphabet="ab é", min_size=0, max_size=40))
    def collect(t):
        cases.append(t)

    collect()
    docs = list(enumerate(cases))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    stats_exp, clean_exp = _py_substr_oracle(docs, w)
    got_stats = {
        r["doc_id"]: (r["n_win"], r["n_dup_win"], r["dup_span_frac"])
        for r in substring_dup_stats(df, w=w).collect()
    }
    got_clean = {
        r["doc_id"]: r["clean_text"] for r in remove_dup_spans(df, w=w).collect()
    }
    for i, t in docs:
        n_win, n_dup = stats_exp[i]
        assert got_stats[i][:2] == (n_win, n_dup), (i, t)
        assert got_clean[i] == clean_exp[i], (i, t)
        assert len(got_clean[i]) == len(t) - w * n_dup, (i, t)
