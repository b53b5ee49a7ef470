"""Text-analysis functions: token counts, quality, language ID, fingerprint."""

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bioie_llm_spark.functions.text import (
    bpe_ish_token_count,
    duplicate_line_stats,
    fingerprint,
    language_id,
    ngram_array,
    quality_score,
    repetition_ratio,
    token_count,
)
from bioie_llm_spark.queries import _two_token_lines


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], "text string").select(col.alias("v")).first()["v"]


def test_token_count(spark):
    assert _one(spark, "a b  c", token_count(F.col("text"))) == 3
    assert _one(spark, "   ", token_count(F.col("text"))) == 0


def test_bpe_ish_token_count(spark):
    n = _one(spark, "hello, world 42", bpe_ish_token_count(F.col("text")))
    # pieces: hello , world 4 2 -> 5 + extra for 5-char words
    assert n >= 5


def test_quality_score_ranges(spark):
    good = "the quick brown fox and the lazy dog walked over a hill of green grass " * 5
    bad = "!!! ??? ### $$$ %%%"
    q_good = _one(spark, good, quality_score(F.col("text")))
    q_bad = _one(spark, bad, quality_score(F.col("text")))
    assert 0.0 <= q_bad < q_good <= 1.0


def test_language_id(spark):
    assert _one(spark, "the cat and the dog is here", language_id(F.col("text"))) == "en"
    assert _one(spark, "der hund und die katze ist da", language_id(F.col("text"))) == "de"
    assert _one(spark, "el perro y la casa es grande", language_id(F.col("text"))) == "es"
    assert _one(spark, "zzz qqq xxx", language_id(F.col("text"))) == "und"


def test_fingerprint_normalization(spark):
    a = _one(spark, "Hello,   World!", fingerprint(F.col("text")))
    b = _one(spark, "hello world", fingerprint(F.col("text")))
    c = _one(spark, "goodbye world", fingerprint(F.col("text")))
    assert a == b != c


def test_scrub_pii(spark):
    from bioie_llm_spark.functions.text import scrub_pii

    df = spark.createDataFrame(
        [("mail me at a.b+c@ex-ample.org or see https://x.io/p?q=1 from 10.0.0.1",)],
        "text string",
    )
    got = df.select(scrub_pii(F.col("text")).alias("t")).first()["t"]
    assert got == "mail me at <EMAIL> or see <URL> from <IP>"


def test_repetition_ratio(spark):
    from bioie_llm_spark.functions.text import repetition_ratio

    df = spark.createDataFrame(
        [
            (1, "spam ham eggs " * 8),              # fully looped
            (2, "one two three four five six seven eight nine ten"),
            (3, ""),                                  # degenerate
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["r"] for r in df.select(
        "doc_id", repetition_ratio(F.col("text")).alias("r")).collect()}
    assert got[1] > 0.3          # the loop n-gram dominates
    assert got[2] == 0.125       # 8 distinct trigrams, each once
    assert got[3] <= 1.0         # no crash on empty text


# The quadratic forms the sorted-run folds replaced, kept as twins: each
# uses its array inside a lambda over the same array.
def _old_repetition_ratio(col, n=3):
    grams = ngram_array(col, n)
    top = F.array_max(
        F.transform(
            F.array_distinct(grams),
            lambda g: F.size(F.filter(grams, lambda x: x == g)),
        )
    )
    return F.coalesce(
        F.round(F.try_divide(top.cast("double"), F.size(grams).cast("double")), 4),
        F.lit(0.0),
    )


def _old_duplicate_line_stats(col, sep="\n"):
    lines = F.filter(
        F.transform(
            F.split(F.coalesce(col, F.lit("")), re.escape(sep)), lambda l: F.trim(l)
        ),
        lambda l: l != "",
    )
    n = F.size(lines)
    n_dist = F.size(F.array_distinct(lines))
    occurrences = F.transform(lines, lambda l: F.size(F.filter(lines, lambda x: x == l)))
    dup_chars = F.aggregate(
        F.zip_with(
            lines, occurrences, lambda l, c: F.when(c > 1, F.length(l)).otherwise(F.lit(0))
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    total_chars = F.aggregate(
        F.transform(lines, lambda l: F.length(l)), F.lit(0), lambda acc, v: acc + v
    )
    return F.struct(
        n.alias("n_lines"),
        F.coalesce(
            F.round(F.try_divide((n - n_dist).cast("double"), n.cast("double")), 4),
            F.lit(0.0),
        ).alias("dup_line_frac"),
        F.coalesce(
            F.round(F.try_divide(dup_chars.cast("double"), total_chars.cast("double")), 4),
            F.lit(0.0),
        ).alias("dup_char_frac"),
    )


def _old_two_token_lines(text):
    toks = F.split(text, " ")
    n_lines_raw = F.ceil(F.size(toks) / F.lit(2.0)).cast("int")
    return F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_lines_raw - 1),
            lambda i: F.array_join(F.slice(toks, i * 2 + 1, 2), " "),
        ),
        "\x1f",
    )


_EDGE_DOCS = [
    None,
    "",
    " ",
    "word",
    "same " * 40,
    "spam ham eggs " * 300,
    "a|b|a|b|b",
    "x\nx\n\ny\n x \n",
    "one two three four five six seven",
]


def test_sorted_run_folds_match_quadratic_twins(spark):
    """repetition_ratio, duplicate_line_stats and txt_profile's line view
    equal their old quadratic forms row for row on drawn documents and on
    the corners: empty, NULL, one token, all tokens equal, long loops and
    a regex-metacharacter separator."""
    word = st.sampled_from(["a", "b", "ab", "The", "x|y", "é", "  ", "\n", "|"])
    doc = st.one_of(
        st.none(),
        st.text(alphabet="ab |\n.", max_size=60),
        st.lists(word, max_size=80).map("".join),
        st.builds(lambda u, k: u * k, st.lists(word, min_size=1, max_size=4).map(" ".join),
                  st.integers(1, 120)),
    )
    docs = list(_EDGE_DOCS)

    @settings(max_examples=150, deadline=None, suppress_health_check=list(HealthCheck))
    @given(doc)
    def collect(d):
        docs.append(d)

    collect()
    df = spark.createDataFrame(list(enumerate(docs)), "id int, text string")
    t = F.col("text")
    pairs = {
        "lines": (_two_token_lines(t), _old_two_token_lines(t)),
        "lined_stats": (
            duplicate_line_stats(_two_token_lines(t), sep="\x1f"),
            _old_duplicate_line_stats(_old_two_token_lines(t), sep="\x1f"),
        ),
        "nl_stats": (duplicate_line_stats(t), _old_duplicate_line_stats(t)),
        "pipe_stats": (
            duplicate_line_stats(t, sep="|"),
            _old_duplicate_line_stats(t, sep="|"),
        ),
    }
    for n in (1, 2, 3):
        pairs[f"rep{n}"] = (repetition_ratio(t, n), _old_repetition_ratio(t, n))
    cols = [F.col("id")]
    for name, (new, old) in pairs.items():
        cols += [new.alias(f"{name}_new"), old.alias(f"{name}_old")]
    rows = df.select(*cols).orderBy("id").collect()
    assert len(rows) == len(docs)
    for r in rows:
        for name in pairs:
            assert r[f"{name}_new"] == r[f"{name}_old"], (name, docs[r["id"]])


def test_duplicate_line_stats(spark):
    from bioie_llm_spark.functions.text import duplicate_line_stats

    df = spark.createDataFrame(
        [
            (1, "aaa\nbbb\naaa\nccc"),          # 'aaa' x2 of 4 lines
            (2, "one\ntwo\nthree"),               # no dups
            (3, "x\nx\nx"),                       # fully duplicated
            (4, ""),                               # degenerate
            (5, "long line here\nshort\nlong line here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["s"].asDict()
        for r in df.select("doc_id", duplicate_line_stats(F.col("text")).alias("s")).collect()
    }
    assert got[1] == {"n_lines": 4, "dup_line_frac": 0.25, "dup_char_frac": 0.5}
    assert got[2] == {"n_lines": 3, "dup_line_frac": 0.0, "dup_char_frac": 0.0}
    assert got[3] == {"n_lines": 3, "dup_line_frac": round(2 / 3, 4), "dup_char_frac": 1.0}
    assert got[4] == {"n_lines": 0, "dup_line_frac": 0.0, "dup_char_frac": 0.0}
    # doc 5: 2 of 3 lines dup ('long line here' x2), chars 28/(28+5)
    assert got[5]["dup_line_frac"] == round(1 / 3, 4)
    assert got[5]["dup_char_frac"] == round(28 / 33, 4)


def test_duplicate_line_stats_null_and_regex_sep(spark):
    """Code-review regressions: NULL text behaves like empty (consistent
    struct, no NULL n_lines), and a metacharacter separator is literal."""
    from bioie_llm_spark.functions.text import duplicate_line_stats

    df = spark.createDataFrame([(1, None), (2, "a|b|a")], "doc_id long, text string")
    got = {
        r["doc_id"]: r["s"].asDict()
        for r in df.select(
            "doc_id", duplicate_line_stats(F.col("text"), sep="|").alias("s")
        ).collect()
    }
    assert got[1] == {"n_lines": 0, "dup_line_frac": 0.0, "dup_char_frac": 0.0}
    # '|' split literally: lines a, b, a -> one dup line, 2/3 of chars
    assert got[2] == {
        "n_lines": 3,
        "dup_line_frac": round(1 / 3, 4),
        "dup_char_frac": round(2 / 3, 4),
    }


def test_txt_profile_dup_line_support(spark):
    """The driver row's synthesized 2-token-line view must carry REAL
    duplicate-line support (181/500 docs at sf0.01 when written) — if a
    corpus or construction change drives it to zero, the oracle-recomputed
    dup fractions stop testing anything and this trips first."""
    from bioie_llm_spark.queries import REGISTRY

    prof = REGISTRY["txt_profile"][0](spark, "/root/testdata/sf0.01")
    n_dup = prof.filter(F.col("dup_line_frac") > 0).count()
    assert n_dup >= 50, f"only {n_dup} docs with duplicate lines"
