"""Training-data curation operators: contamination screen, source mixing,
sequence packing (operators/curation.py — beyond-reference pipeline ops)."""

import pytest
from pyspark.sql import functions as F

from bioie_llm_spark.operators.curation import (
    contamination_check,
    mix_sources,
    pack_sequences,
    pack_stats,
    source_mix_targets,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


# ------------------------------------------------------------- contamination
def test_contamination_self_and_disjoint(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta eta theta iota kappa"),
            (3, "alpha beta gamma zzz yyy xxx www"),
            (4, ""),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "bid bigint, text string"
    )
    out = {
        r["doc_id"]: r
        for r in contamination_check(docs, bench, n=3, threshold=0.5).collect()
    }
    assert len(out) == 4
    # doc 1 IS the benchmark doc: every gram hits
    assert out[1]["contamination"] == 1.0 and out[1]["contaminated"]
    # doc 2 shares nothing
    assert out[2]["n_hit"] == 0 and not out[2]["contaminated"]
    # doc 3: grams 'alpha beta gamma' hits; the rest don't -> ratio 1/5
    assert out[3]["n_hit"] == 1 and out[3]["n_grams"] == 5
    assert out[3]["contamination"] == 0.2 and not out[3]["contaminated"]
    # empty doc kept with ratio 0, not dropped by the explode
    assert out[4]["n_grams"] == 0 and out[4]["contamination"] == 0.0


def test_contamination_partition_invariant(spark):
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    a = contamination_check(docs, bench).collect()
    b = contamination_check(docs.repartition(7), bench).collect()
    key = lambda rows: sorted(map(tuple, rows))
    assert key(a) == key(b)
    # benchmark members are fully contaminated by construction
    marked = {r["doc_id"]: r["contamination"] for r in a}
    assert all(marked[i] == 1.0 for i in marked if i % 17 == 0)


# ------------------------------------------------------------------- mixing
def test_source_mix_targets_temperature(spark):
    docs = _docs(spark)
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    flat = source_mix_targets(docs, total=40, temperature=1.0)
    sharp = source_mix_targets(docs, total=40, temperature=0.5)
    assert set(flat) == set(counts)
    for s, (c, t) in flat.items():
        assert c == counts[s] and 0 <= t <= c
    assert sum(t for _, t in flat.values()) <= 40
    # T=0.5 squares the weights: the biggest source's share must not shrink
    big = max(counts, key=lambda s: (counts[s], s))
    assert sharp[big][1] >= flat[big][1]


def test_mix_sources_deterministic_quota(spark):
    docs = _docs(spark)
    targets = source_mix_targets(docs, total=40, temperature=0.5)
    out = mix_sources(docs, targets)
    got = out.groupBy("source").agg(F.count("*").alias("n")).collect()
    for r in got:
        assert r["n"] == targets[r["source"]][1]
    # same draw at different parallelism (hash order, not partition order)
    again = mix_sources(docs.repartition(13), targets)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_source_mix_targets_token_weighted(spark):
    """size_col mixing: a source of few long docs weighs like one of many
    short docs (equal token mass -> equal raw quota), with the per-source
    doc-count cap applied after."""
    rows = [(i, "A", 100) for i in range(2)] + [
        (100 + i, "B", 10) for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, n_tokens int")
    t = source_mix_targets(docs, total=10, temperature=1.0, size_col="n_tokens")
    # equal 200-token mass each -> raw quota 5 per source; A capped at 2 docs
    assert t["A"] == (2, 2) and t["B"] == (20, 5)
    # default doc-count weighting: B dominates 20:2
    t2 = source_mix_targets(docs, total=10, temperature=1.0)
    assert t2["B"][1] > t2["A"][1] and t2["B"][1] >= 9


# ------------------------------------------------------------------- packing
def test_pack_sequences_invariants(spark):
    docs = _docs(spark)
    packed = pack_sequences(docs, max_tokens=64, n_groups=8)
    rows = packed.collect()
    assert len(rows) == docs.count()  # every doc exactly once
    assert len({r["id"] for r in rows}) == len(rows)
    stats = pack_stats(packed, max_tokens=64).collect()[0]
    assert stats["n_violations"] == 0
    assert 0 < stats["mean_utilization"] <= 1.0
    # group is hash-derived -> identical packing at other parallelism
    again = pack_sequences(docs.repartition(17), max_tokens=64, n_groups=8)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))


def test_pack_oversize_isolated(spark):
    docs = spark.createDataFrame(
        [(1, "a " * 100), (2, "b c d"), (3, "e f")],
        "doc_id bigint, text string",
    )
    packed = pack_sequences(docs, max_tokens=10, n_groups=1)
    rows = {r["id"]: r for r in packed.collect()}
    assert rows[1]["oversize"] and rows[1]["n_tokens"] == 100
    # the oversize doc sits alone in its bin
    assert sum(1 for r in rows.values() if r["bin_id"] == rows[1]["bin_id"]) == 1
    # the two small docs co-pack (2 + 3 tokens <= 10)
    assert rows[2]["bin_id"] == rows[3]["bin_id"]
    stats = pack_stats(packed, max_tokens=10).collect()[0]
    assert stats["n_oversize_bins"] == 1 and stats["n_violations"] == 0


@pytest.mark.parametrize("budget", [16, 64, 256])
def test_pack_ffd_beats_singletons(spark, budget):
    """FFD must never use more bins than one-doc-per-bin, and must STRICTLY
    beat it whenever some group holds two docs that fit one bin together
    (a regression to one-doc-per-bin packing must fail here)."""
    from bioie_llm_spark.functions.text import token_count

    docs = _docs(spark).limit(40)
    n_docs = docs.count()
    packed = pack_sequences(docs, max_tokens=budget, n_groups=4)
    stats = pack_stats(packed, budget).collect()[0]
    assert stats["n_bins"] <= n_docs
    # strict improvement is possible iff some group's two smallest docs
    # co-fit; derive that from the data instead of guessing per budget
    sizes: dict[int, list[int]] = {}
    for r in docs.select(
        F.pmod(F.xxhash64("doc_id"), F.lit(4)).alias("g"),  # = pack's salt
        token_count(F.col("text")).alias("t"),
    ).collect():
        sizes.setdefault(r["g"], []).append(r["t"])
    co_fit = any(
        len(ts) >= 2 and sum(sorted(ts)[:2]) <= budget for ts in sizes.values()
    )
    if co_fit:
        assert stats["n_bins"] < n_docs


# ----------------------------------------------------------- paragraph dedup
def test_paragraph_dedup_keep_first(spark):
    from bioie_llm_spark.operators.curation import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "LICENSE TEXT\n\nunique one\n\ncommon footer"),
            (2, "LICENSE TEXT\n\nunique two\n\ncommon footer"),
            (3, "totally distinct\n\nLICENSE TEXT"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["id"]: r for r in paragraph_dedup(docs, min_df=2).collect()}
    # doc 1 holds the first occurrence of both boilerplate paras
    assert out[1]["text"] == "LICENSE TEXT\n\nunique one\n\ncommon footer"
    assert out[1]["n_dropped"] == 0
    # doc 2 loses both copies, keeps its unique paragraph
    assert out[2]["text"] == "unique two" and out[2]["n_dropped"] == 2
    # doc 3 loses the license (first occurrence lives in doc 1)
    assert out[3]["text"] == "totally distinct" and out[3]["n_dropped"] == 1
    assert all(r["n_paras"] in (2, 3) for r in out.values())


def test_paragraph_dedup_drop_all_and_invariance(spark):
    from bioie_llm_spark.operators.curation import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "same\n\nonly in one"),
            (2, "same"),
            (3, "same\n\nSAME!"),  # normalization folds 'SAME!' into 'same'
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["id"]: r
        for r in paragraph_dedup(docs, min_df=2, keep_first=False).collect()
    }
    assert out[1]["text"] == "only in one"
    assert out[2]["text"] == "" and out[2]["n_dropped"] == 1
    assert out[3]["text"] == "" and out[3]["n_dropped"] == 2
    # partition invariance
    a = sorted(map(tuple, paragraph_dedup(docs, min_df=2).collect()))
    b = sorted(map(tuple, paragraph_dedup(docs.repartition(5), min_df=2).collect()))
    assert a == b


# -------------------------------------------------- FFD property (hypothesis)
def test_pack_ffd_matches_python_twin(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from bioie_llm_spark.operators.curation import pack_sequences, py_pack_ffd

    cases = []

    @settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(st.integers(min_value=0, max_value=80), min_size=1, max_size=25))
    def collect(sizes):
        cases.append(sizes)

    collect()
    budget = 50
    for sizes in cases[:12]:  # one tiny Spark job per case; cap runtime
        docs = spark.createDataFrame(
            [(i, "w " * k) for i, k in enumerate(sizes)],
            "doc_id bigint, text string",
        )
        got = {
            r["id"]: r["bin_id"]
            for r in pack_sequences(docs, max_tokens=budget, n_groups=1).collect()
        }
        want = py_pack_ffd(list(enumerate(sizes)), budget)
        assert got == want, (sizes, got, want)


# ------------------------------------------------------------------ chunking
def test_chunk_documents_coverage_and_overlap(spark):
    from bioie_llm_spark.operators.curation import chunk_documents

    words = " ".join(f"w{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(1, words), (2, "short doc"), (3, "")],
        "doc_id bigint, text string",
    )
    out = chunk_documents(docs, max_tokens=10, overlap=4)
    rows = sorted(out.collect(), key=lambda r: (r["id"], r["chunk_id"]))
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], []).append(r)
    # doc 1: 25 tokens, stride 6 -> ceil((25-4)/6) = 4 chunks
    c1 = by_doc[1]
    assert len(c1) == 4 and all(r["n_chunks"] == 4 for r in c1)
    texts = [r["chunk_text"].split() for r in c1]
    # chunk i starts at i*stride; consecutive chunks share exactly 4 tokens
    for i, t in enumerate(texts):
        assert t[0] == f"w{i * 6}"
    for a, b in zip(texts, texts[1:]):
        assert a[-4:] == b[:4]
    # full coverage, in order, no token lost
    merged = texts[0] + [w for t in texts[1:] for w in t[4:]]
    assert merged == words.split()
    # short doc -> single chunk = itself; empty doc -> one empty chunk
    assert [r["chunk_text"] for r in by_doc[2]] == ["short doc"]
    assert by_doc[2][0]["n_chunks"] == 1
    assert [r["chunk_text"] for r in by_doc[3]] == [""]
    assert by_doc[3][0]["n_tokens"] == 0


def test_chunk_documents_boundary_exact(spark):
    from bioie_llm_spark.operators.curation import chunk_documents

    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10)))], "doc_id bigint, text string"
    )
    # exactly max_tokens -> one chunk
    one = chunk_documents(docs, max_tokens=10, overlap=4).collect()
    assert len(one) == 1 and one[0]["n_tokens"] == 10
    # one token over -> two chunks, second holds overlap + the extra token
    docs11 = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(11)))], "doc_id bigint, text string"
    )
    two = sorted(
        chunk_documents(docs11, max_tokens=10, overlap=4).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert [r["n_tokens"] for r in two] == [10, 5]
    with _pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=10, overlap=10)


def test_paragraph_dedup_matches_python_twin(spark):
    """Hypothesis: the DataFrame op equals py_paragraph_dedup on generated
    multi-paragraph corpora (small alphabet forces heavy collisions)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from bioie_llm_spark.operators.curation import (
        paragraph_dedup,
        py_paragraph_dedup,
    )

    para_st = st.text(alphabet="ab X.", min_size=0, max_size=6)
    doc_st = st.lists(para_st, min_size=1, max_size=4).map("\n\n".join)
    cases = []

    @settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(doc_st, min_size=1, max_size=6))
    def collect(texts):
        cases.append(texts)

    collect()
    for kf in (True, False):
        for texts in cases[:8]:
            docs = list(enumerate(texts))
            sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
            got = {
                r["id"]: (r["text"], r["n_paras"], r["n_dropped"])
                for r in paragraph_dedup(sdf, min_df=2, keep_first=kf).collect()
            }
            want = py_paragraph_dedup(docs, min_df=2, keep_first=kf)
            assert got == want, (kf, texts, got, want)


def test_mix_sources_threshold_zero_shuffle(spark):
    """The scale-path draw: expected per-source counts within binomial
    tolerance of the exact quotas, deterministic at any parallelism, and
    a ZERO-exchange plan (pure filter)."""
    import math
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from audit_plans import plan_stats

    from bioie_llm_spark.operators.curation import (
        mix_sources_threshold,
        source_mix_targets,
    )

    docs = _docs(spark)
    targets = source_mix_targets(docs, total=200, temperature=1.0)
    out = mix_sources_threshold(docs, targets)
    assert plan_stats(out)["exchanges"] == 0
    got = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for s, (c, t) in targets.items():
        n = got.get(s, 0)
        tol = 4 * math.sqrt(max(t, 1)) + 1  # binomial +-4 sigma
        assert abs(n - t) <= tol, (s, n, t, tol)
    again = mix_sources_threshold(docs.repartition(11), targets)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_review_fix_edge_cases(spark):
    """Round-3 review fixes: regex-metachar paragraph separator, NULL/zero
    size_col quotas, all-oversize pack_stats."""
    from bioie_llm_spark.operators.curation import paragraph_dedup

    # '|' separator must be literal, not a regex alternation
    docs = spark.createDataFrame(
        [(1, "aa|bb"), (2, "aa|cc")], "doc_id bigint, text string"
    )
    out = {r["id"]: r for r in paragraph_dedup(docs, min_df=2, sep="|").collect()}
    assert out[1]["text"] == "aa|bb" and out[2]["text"] == "cc"
    assert out[2]["n_dropped"] == 1 and out[2]["n_paras"] == 2

    # NULL size sums coalesce to 0; all-zero weights -> zero targets, no crash
    sized = spark.createDataFrame(
        [(1, "A", None), (2, "B", None)],
        "doc_id bigint, source string, n_tokens int",
    )
    t = source_mix_targets(sized, total=10, size_col="n_tokens")
    assert t == {"A": (1, 0), "B": (1, 0)}

    # every doc oversize -> mean_utilization 0.0, not NULL
    big = spark.createDataFrame(
        [(1, "w " * 50), (2, "w " * 60)], "doc_id bigint, text string"
    )
    st = pack_stats(pack_sequences(big, max_tokens=10, n_groups=1), 10).collect()[0]
    assert st["n_oversize_bins"] == 2 and st["mean_utilization"] == 0.0


# ---------------------------------------------------------------------------
# ngram_lm_score (CCNet-style perplexity filter, r4)


def _py_lm_score(rows, alpha=0.4):
    """Exact python twin of ngram_lm_score (self-trained)."""
    import math
    from collections import Counter

    toks = {i: t.lower().split() for i, t in rows}
    uni, bi = Counter(), Counter()
    for t in toks.values():
        uni.update(t)
        bi.update(zip(t, t[1:]))
    T = sum(uni.values())
    out = {}
    for i, t in toks.items():
        if len(t) < 2:
            out[i] = (len(t), None, None)
            continue
        nll = []
        for a, b in zip(t, t[1:]):
            if (a, b) in bi:
                p = bi[(a, b)] / uni[a]
            elif b in uni:
                p = alpha * uni[b] / T
            else:
                p = alpha / T
            nll.append(-math.log(p))
        # fixed-point mean, mirroring the engine's order-proof aggregation
        m = sum(math.floor(v * 1e9) for v in nll) / (len(nll) * 1e9)
        out[i] = (len(t), round(m, 4), round(math.exp(m), 4))
    return out


def test_ngram_lm_score_matches_python_twin(spark):
    from bioie_llm_spark.operators.curation import ngram_lm_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    extra = spark.createDataFrame(
        [(900001, "zzzqx vvkwq pplmr zzzqx"), (900002, "one"), (900003, "")],
        "doc_id long, text string",
    )
    df = docs.unionByName(extra)
    expect = _py_lm_score([(r["doc_id"], r["text"]) for r in df.collect()])
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_nll"], r["perplexity"])
        for r in ngram_lm_score(df).collect()
    }
    assert got.keys() == expect.keys()
    mism = {k: (got[k], expect[k]) for k in got if got[k] != expect[k]}
    assert not mism, dict(list(mism.items())[:3])


def test_ngram_lm_score_duckdb_twin(spark):
    """Engine parity: DuckDB recomputes the self-trained bigram perplexity
    from the same parquet with the same tokenization and backoff."""
    import duckdb

    from bioie_llm_spark.operators.curation import ngram_lm_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_nll"], r["perplexity"])
        for r in ngram_lm_score(docs).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM '/root/testdata/sf0.001/documents.parquet'"
    )
    rows = con.execute("""
        WITH tok AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                             t -> t <> '') AS t
          FROM documents
        ),
        uni AS (
          SELECT w, count(*) AS c_w FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w
        ),
        tot AS (SELECT CAST(sum(c_w) AS DOUBLE) AS T FROM uni),
        zipped AS (
          SELECT doc_id, len(t) AS n_tokens,
                 unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
          FROM tok WHERE len(t) >= 2
        ),
        bi AS (
          SELECT p[1] AS w1, p[2] AS w2, count(*) AS c_b
          FROM zipped GROUP BY 1, 2
        ),
        trans AS (
          SELECT doc_id, n_tokens,
                 p[1] AS w1, p[2] AS w2
          FROM zipped
        ),
        scored AS (
          SELECT tr.doc_id, tr.n_tokens,
                 -ln(CASE WHEN b.c_b IS NOT NULL
                          THEN CAST(b.c_b AS DOUBLE) / u1.c_w
                          WHEN u2.c_w IS NOT NULL
                          THEN 0.4 * u2.c_w / (SELECT T FROM tot)
                          ELSE 0.4 / (SELECT T FROM tot) END) AS nll
          FROM trans tr
          LEFT JOIN bi b ON tr.w1 = b.w1 AND tr.w2 = b.w2
          LEFT JOIN uni u1 ON tr.w1 = u1.w
          LEFT JOIN uni u2 ON tr.w2 = u2.w
        ),
        agg AS (
          SELECT doc_id, n_tokens,
                 CAST(sum(CAST(floor(nll * 1e9) AS BIGINT)) AS DOUBLE)
                 / (count(*) * 1e9) AS m
          FROM scored GROUP BY doc_id, n_tokens
        )
        SELECT k.doc_id, CAST(len(k.t) AS BIGINT) AS n_tokens,
               round(a.m, 4) AS avg_nll, round(exp(a.m), 4) AS perplexity
        FROM tok k LEFT JOIN agg a ON k.doc_id = a.doc_id
    """).fetchall()
    oracle = {r[0]: (r[1], r[2], r[3]) for r in rows}
    assert got.keys() == oracle.keys()
    mism = {k: (got[k], oracle[k]) for k in got if got[k] != oracle[k]}
    assert not mism, dict(list(mism.items())[:3])


def test_ngram_lm_score_gibberish_scores_high(spark):
    from bioie_llm_spark.operators.curation import ngram_lm_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    gib = spark.createDataFrame(
        [(900010, "qqjx zzvw pplk mmnb rrty uuio ppas ddfg hhjk llzx")],
        "doc_id long, text string",
    )
    out = ngram_lm_score(docs.unionByName(gib), lm=docs)
    med = out.filter(F.col("doc_id") < 900000).agg(
        F.expr("percentile_approx(perplexity, 0.5)")
    ).first()[0]
    g = out.filter(F.col("doc_id") == 900010).first()["perplexity"]
    assert g > med * 10, (g, med)
    # deterministic under repartition
    again = {
        r["doc_id"]: r["perplexity"]
        for r in ngram_lm_score(
            docs.unionByName(gib).repartition(13), lm=docs.repartition(7)
        ).collect()
    }
    first = {r["doc_id"]: r["perplexity"] for r in out.collect()}
    assert again == first


def test_ngram_lm_pretrained_matches_selftrain(spark, tmp_path):
    """The persisted-model path (train once -> save -> load -> score; the
    100 TB shape, VERDICT r4 #4) must be BIT-identical to self-training on
    the same corpus: same count tables in, same fixed-point mean out."""
    from bioie_llm_spark.operators.curation import (
        load_ngram_lm,
        ngram_lm_score,
        save_ngram_lm,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out_dir = str(tmp_path / "lm_stage")
    save_ngram_lm(docs, out_dir)
    pre = {
        (r["doc_id"]): (r["n_tokens"], r["avg_nll"], r["perplexity"])
        for r in ngram_lm_score(docs, model=load_ngram_lm(spark, out_dir)).collect()
    }
    self_t = {
        (r["doc_id"]): (r["n_tokens"], r["avg_nll"], r["perplexity"])
        for r in ngram_lm_score(docs).collect()
    }
    assert pre == self_t
    assert len(pre) == docs.count()


def test_lm_artifact_keyed_per_document_table(spark, tmp_path):
    """Two Spark-written document tables in two directories, with the same
    file count and the same directory mtime, each get their own persisted
    LM: the scratch key covers the table's real path and every file under
    it, not the directory's size and mtime alone."""
    import os
    import shutil

    from bioie_llm_spark import queries as Q
    from bioie_llm_spark.operators.curation import load_ngram_lm, train_ngram_lm

    dirs = {"alpha beta gamma": str(tmp_path / "a"), "delta epsilon": str(tmp_path / "b")}
    for text, sf_dir in dirs.items():
        table = f"{sf_dir}/documents.parquet"
        spark.createDataFrame([(1, text)], "doc_id long, text string").coalesce(
            1
        ).write.parquet(table)
        os.utime(table, ns=(1_700_000_000 * 10**9,) * 2)
    aliases = []
    try:
        aliases = [Q._lm_parquet(spark, sf_dir) for sf_dir in dirs.values()]
        assert os.path.realpath(aliases[0]) != os.path.realpath(aliases[1])
        for sf_dir, alias in zip(dirs.values(), aliases):
            uni, _ = load_ngram_lm(spark, alias)
            own, _ = train_ngram_lm(Q.load(spark, sf_dir, "documents"))
            assert sorted(uni.collect()) == sorted(own.collect())
    finally:
        for alias in aliases:
            shutil.rmtree(os.path.realpath(alias), ignore_errors=True)
            os.remove(alias)
