"""F1 mention matcher + F2/F3 choice extractor semantics
(spec: /root/reference/src/data_processors/base_processor.py:1266-1345)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bioie_llm_spark.functions.cleaning import (
    extract_choice_expr,
    extract_choice_kbase_expr,
    match_mentions_expr,
    py_extract_choice,
    py_match_mentions,
)

BOUNDARY_CASES = [
    # (response, golds, expected) — EB1 vs RHEB / PSD vs PSD-95 trap class
    ("RHEB is active", ["EB1", "RHEB"], ["RHEB"]),
    ("EB1 binds tubulin", ["EB1", "RHEB"], ["EB1"]),
    ("PSD-95 scaffolding", ["PSD", "PSD-95"], ["PSD-95"]),
    ("the PSD region", ["PSD", "PSD-95"], ["PSD"]),
    ("xEB1y is not a mention", ["EB1"], []),
    ("EB1. punctuation ok", ["EB1"], ["EB1"]),
    ("(EB1) parens ok", ["EB1"], ["EB1"]),
    ("EB1_tag is compound", ["EB1"], []),
    ("pre-EB1 hyphen blocks", ["EB1"], []),
    ("", ["EB1"], []),
    ("AKT1 and AKT", ["AKT", "AKT1"], ["AKT", "AKT1"]),
    # regex metacharacters and quoting escapes are literal text
    ("(EB1)* binds", ["(EB1)*", "EB1*", "EB1"], ["(EB1)*", "EB1"]),
    ("x a\\Eb\\Q y", ["a\\Eb\\Q", "\\E"], ["a\\Eb\\Q"]),
    # occurrences are scanned without overlap: the valid '..' at 2 overlaps
    # the invalid one at 1, so it is never tried
    ("a...", [".."], []),
]


@pytest.mark.parametrize("resp,golds,want", BOUNDARY_CASES)
def test_py_match_mentions(resp, golds, want):
    assert py_match_mentions(resp, golds) == want


def test_match_mentions_udf_matches_python(spark):
    rows = [(r, g) for r, g, _ in BOUNDARY_CASES]
    df = spark.createDataFrame(rows, "response string, golds array<string>")
    got = (
        df.withColumn("m", match_mentions_expr(F.col("response"), F.col("golds")))
        .select("response", "m")
        .collect()
    )
    by_resp = {r["response"]: r["m"] for r in got}
    for resp, golds, want in BOUNDARY_CASES:
        assert by_resp[resp] == want, resp


def test_match_mentions_property(spark):
    """Random-ish fuzz: expression == pure-Python twin on generated cases."""
    import random

    rng = random.Random(42)
    vocab = ["EB1", "RHEB", "PSD", "PSD-95", "AKT", "TP53", "GEN0001B", "PR0042X"]
    cases = []
    for _ in range(60):
        golds = rng.sample(vocab, rng.randint(1, 5))
        words = rng.choices(
            vocab + ["foo", "xEB1y", "and", "binds", "(AKT)", "TP53,"], k=rng.randint(0, 8)
        )
        cases.append((" ".join(words), golds))
    df = spark.createDataFrame(cases, "response string, golds array<string>")
    got = df.withColumn("m", match_mentions_expr(F.col("response"), F.col("golds"))).collect()
    for row, (resp, golds) in zip(got, cases):
        assert row["m"] == py_match_mentions(resp, golds), (resp, golds)


CHOICE_CASES = [
    ("Yes, definitely", ["yes", "no"], "yes"),
    ("Answer: no.", ["yes", "no"], "no"),
    ("maybe so", ["yes", "no"], "none"),
    ("", ["yes", "no"], "none"),
    ("The relation is phosphorylation.", ["activation", "phosphorylation"], "phosphorylation"),
    ("NO!!", ["yes", "no"], "no"),
    ("yesno yes", ["yes", "no"], "yes"),
]


@pytest.mark.parametrize("resp,choices,want", CHOICE_CASES)
def test_py_extract_choice(resp, choices, want):
    assert py_extract_choice(resp, choices) == want


def test_extract_choice_expr(spark):
    df = spark.createDataFrame([(r,) for r, _, _ in CHOICE_CASES], "response string")
    for resp, choices, want in CHOICE_CASES:
        got = (
            df.filter(F.col("response") == resp)
            .select(extract_choice_expr(F.col("response"), choices).alias("c"))
            .first()["c"]
        )
        assert got == want, resp


def test_extract_choice_kbase(spark):
    df = spark.createDataFrame(
        [("AKT activates TP53 strongly", "AKT")], "response string, entity string"
    )
    got = df.select(
        extract_choice_kbase_expr(
            F.col("response"), F.col("entity"), ["activates", "inhibits"]
        ).alias("c")
    ).first()["c"]
    assert got == "activates"
