"""Document deduplication suite — the operations a large-scale training-data
pipeline runs over a `documents` table: exact dedup, MinHash+LSH, SimHash,
and word-n-gram Jaccard. All pure DataFrame expressions (JVM-side, no Python
in the hot path); all hash-deterministic (xxhash64/md5, never rand()).

Scale design notes:
- exact dedup: one hash-agg shuffle on the 128-bit content key;
- MinHash/LSH: signature computation is a map (no shuffle); the only
  shuffles are the band-bucket groupBys — candidate pairs are generated
  per-bucket, never all-pairs. Hot buckets (boilerplate docs) are bounded
  by `max_bucket` to keep the pair blow-up capped (silent-cap logged by
  callers via the returned bucket sizes).
- SimHash: one explode + one groupBy per doc; hamming-ball lookup is a
  self-join on rotated prefix keys (not implemented here — near-dup via
  LSH is the scale path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalized_text(col: Column) -> Column:
    """Lowercase, strip punctuation, collapse whitespace — the canonical
    content key for exact dedup / fingerprinting."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", ""), r"\s+", " ")
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hash-groupBy exact dedup on normalized content: one row per distinct
    content, keeper = min id, n_dups = group size."""
    return (
        df.select(F.col(id_col), F.md5(normalized_text(F.col(text_col))).alias("content_key"))
        .groupBy("content_key")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
    )


def word_tokens(col: Column) -> Column:
    """Space-split tokens of the normalized text — the shared front of
    every shingle formulation."""
    return F.split(normalized_text(col), " ")


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    array column (see ``shingle_frame`` for why the two-step shape
    matters).

    Built with ``zip_with`` over shifted copies instead of
    ``transform(sequence(...), i -> slice(toks, i, n))``: Catalyst
    re-evaluates expressions captured inside a higher-order-function lambda
    PER ELEMENT, so the slice formulation re-ran the normalize+split for
    every shingle index — O(tokens^2) regex work per row (measured 29s for
    5000 docs; this form is ~30x faster). zip_with pads the shorter side
    with null and concat_ws skips nulls, so trailing partials form
    truncated shingles exactly like the slice formulation; the final slice
    drops them."""
    out = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(1)))
        out = F.zip_with(out, shifted, lambda x, y: F.concat_ws(" ", x, y))
    keep = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    return F.array_distinct(F.slice(out, 1, keep))


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text, as ONE column
    expression. This inlines the token subtree ``n + 2`` times, so prefer
    ``shingle_frame`` (two projections) on hot paths — the inline form
    re-runs the normalize+split regex chain per reference (measured 9.1s
    vs 1.8s for the sf1.0 corpus; optimization guide §7.2 duplicated
    subtrees)."""
    return shingles_of_tokens(word_tokens(col), n)


def shingle_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    id_alias: str | None = None,
    out_col: str = "sh",
) -> DataFrame:
    """(id, shingles) with the token array materialized in its OWN
    projection before shingling. The shingle expression references its
    token input 5 times; as a single nested expression Catalyst inlines
    (and re-evaluates) the normalize+split chain per reference, while a
    materialized ``__toks`` alias referenced 5 times blocks CollapseProject
    and is computed once — measured 5x on the shingle pass alone."""
    out_id = id_alias or id_col
    tokd = df.select(
        F.col(id_col).alias(out_id),
        word_tokens(F.col(text_col)).alias("__toks"),
    )
    return tokd.select(
        out_id, shingles_of_tokens(F.col("__toks"), shingle_n).alias(out_col)
    )


def minhash_signature(shingles: Column, n_hashes: int = 32) -> Column:
    """MinHash signature: for each of n_hashes seeded hash functions, the
    min xxhash64 over the shingle set. array<long> of length n_hashes;
    empty shingle sets get a sentinel signature."""
    return F.array(
        *[
            F.coalesce(
                F.array_min(F.transform(shingles, lambda s, i=i: F.xxhash64(s, F.lit(i)))),
                F.lit(-(2**62) + i),
            )
            for i in range(n_hashes)
        ]
    )


def _minhash_banded(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig, band, bucket) — one row per (doc, band): the shared front
    half of candidate generation and the dropped-bucket drop report."""
    rows = n_hashes // bands
    # staged projections so tokens AND the shingle set are each computed
    # ONCE per row: 32 references to a multi-use non-trivial alias block
    # CollapseProject, whereas inlining the expression would rebuild
    # shingles per hash fn (and the token chain per shingle reference)
    sh = shingle_frame(df, id_col, text_col, shingle_n, id_alias="id")
    sig = sh.select("id", minhash_signature(F.col("sh"), n_hashes).alias("sig"))
    return sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(",", *[
                                F.element_at("sig", b * rows + r + 1).cast("string")
                                for r in range(rows)
                            ])
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_dropped_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 50,
) -> DataFrame:
    """The (band, bucket, sz) groups minhash_lsh_candidates drops under its
    max_bucket boilerplate guard — the no-silent-caps drop report (same
    contract as ngram_hot_grams): pipelines count/materialize this next to
    the candidate output so the cap is auditable lineage, never silent.
    Under a boilerplate-heavy corpus (many near-identical docs) these
    groups hold the boilerplate mass that would otherwise cost O(sz^2)
    pairs per bucket."""
    banded = _minhash_banded(df, id_col, text_col, n_hashes, bands, shingle_n)
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") > max_bucket)
    )


def _list_pairs(lists: DataFrame) -> DataFrame:
    """``(x, y)``: every pair of positions i < j of each posting list
    ``ms``, once — the candidate expansion of the inverted-index joins
    (``ngram_jaccard_pairs``, ``minhash_lsh_candidates``,
    ``canonical.jaccard_pairs``). Two codegen'd Generates (posexplode, then
    explode of the per-position tail slice) instead of a nested
    transform+filter: the HOF form builds sz^2 structs through interpreted
    expression eval and filters half away, while this form emits exactly
    the sz(sz-1)/2 pairs inside whole-stage codegen — measured 20.8s ->
    14.8s on the sf1.0 dd_ngram_jaccard slot (71M pair rows). Callers
    orient each pair with least/greatest."""
    wx = lists.select("ms", F.posexplode("ms").alias("i", "x"))
    return wx.select(
        "x", F.explode(F.slice("ms", F.col("i") + 2, F.size("ms"))).alias("y")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 50,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate candidates.

    shingle -> minhash signature -> split into `bands` bands of
    n_hashes/bands rows -> band-hash bucket join -> candidate pairs with
    estimated Jaccard = fraction of agreeing signature positions.
    Returns (id_a, id_b, est_jaccard). Buckets larger than max_bucket are
    dropped (boilerplate guard) — audit the drop with
    ``minhash_dropped_buckets``.
    """
    banded = _minhash_banded(df, id_col, text_col, n_hashes, bands, shingle_n)
    # Physical shape: ONE evaluation of the signature subtree and ONE
    # shuffle on (band, bucket) — per-bucket posting lists via collect_list
    # (bounded: the max_bucket boilerplate guard is the HAVING on the same
    # aggregate, so no group can exceed max_bucket members = the list is
    # never OOM-sized), pairs + their est_jaccard expanded from each list
    # with a nested transform. The previous window + a-join-b formulation
    # re-evaluated shingle+minhash three times (window input and both join
    # sides) — measured 2.5x slower end-to-end. est_jaccard is a pure
    # function of the pair, so the final distinct() (which shuffles only
    # (long, long, double) rows) collapses per-band duplicates exactly.
    est = lambda xs, ys: (  # noqa: E731 — fraction of agreeing positions
        F.size(
            F.filter(F.zip_with(xs, ys, lambda x, y: (x == y).cast("int")), lambda v: v == 1)
        )
        / F.size(xs)
    )
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("id", "sig")).alias("ms"), F.count("*").alias("sz"))
        .filter((F.col("sz") >= 2) & (F.col("sz") <= max_bucket))
    )
    # upper-triangle pair expansion (``_list_pairs``): est is evaluated once
    # per unordered pair, and it is symmetric (fraction of agreeing
    # positions), so the least/greatest orientation produces bit-identical
    # rows to the old id_a < id_b filter.
    pairs = _list_pairs(grouped).select(
        F.least("x.id", "y.id").alias("id_a"),
        F.greatest("x.id", "y.id").alias("id_b"),
        est(F.col("x.sig"), F.col("y.sig")).alias("est_jaccard"),
    )
    return pairs.distinct()


def ngram_exploded_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """Inverted shingle index: (id, n_sh, g) — one row per (doc, shingle)."""
    sh = shingle_frame(df, id_col, text_col, shingle_n, id_alias="id")
    sized = sh.select("id", "sh", F.size("sh").alias("n_sh"))
    return sized.select("id", "n_sh", F.explode("sh").alias("g"))


def ngram_hot_grams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_df: int = 100,
) -> DataFrame:
    """The shingles `ngram_jaccard_pairs` drops under its max_df cap, with
    their document frequencies — the no-silent-caps drop report: pipelines
    materialize/count this next to the pair output so the cap is auditable
    instead of silent."""
    ex = ngram_exploded_index(df, id_col, text_col, shingle_n)
    return (
        ex.groupBy("g").agg(F.count("*").alias("df")).filter(F.col("df") > max_df)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 100,
) -> DataFrame:
    """Word-n-gram Jaccard near-dup pairs via inverted-index blocking
    (explode shingles, equi-join on shingle, count shared). SQL-expressible
    — the DuckDB oracle twin lives in queries.py.

    ``max_df``: shingles occurring in more than max_df docs are dropped
    from the INDEX (denominators keep the full shingle counts) — same cap
    as canonical.jaccard_pairs: a boilerplate shingle contributes O(df^2)
    pairs and no discrimination, which made this the single most expensive
    bench query before the cap. Pairs whose overlap is exclusively
    ubiquitous shingles are missed (the standard blocking trade-off),
    jaccard is underestimated by the dropped shared grams, and the oracle
    mirrors the cap exactly. Audit the drop with ``ngram_hot_grams``.

    Physical shape (capped path): the shingle index is evaluated ONCE and
    shuffled once on the gram key — per-gram posting lists via collect_list
    (bounded by max_df, so never an OOM-sized group), the cap applied as a
    HAVING on the same aggregate, upper-triangle pairs expanded from each
    bounded posting list with two codegen'd Generates (see inline note).
    The naive a-join-b formulation evaluates the shingling subtree three
    times (hot-gram agg + both join sides) — measured 2x slower
    end-to-end, and its collect-free plan carries no cap on group size
    anyway. With max_df=None posting lists are unbounded, so the join
    formulation is kept for that (correctness-twin) path."""
    ex = ngram_exploded_index(df, id_col, text_col, shingle_n)
    if max_df is not None:
        members = (
            ex.groupBy("g")
            .agg(
                F.collect_list(F.struct("id", "n_sh")).alias("ms"),
                F.count("*").alias("__df"),
            )
            .filter(F.col("__df") <= max_df)
        )
        # Upper-triangle pair expansion (``_list_pairs``). The pair key
        # carries na+nb as one int (the jaccard denominator needs only the
        # sum); least/greatest normalizes the orientation — posting-list
        # ids are unique per gram, so each unordered pair is emitted once.
        pairs = _list_pairs(members).select(
            F.least("x.id", "y.id").alias("id_a"),
            F.greatest("x.id", "y.id").alias("id_b"),
            (F.col("x.n_sh") + F.col("y.n_sh")).alias("__nanb"),
        )
        shared = (
            pairs.groupBy("id_a", "id_b", "__nanb")
            .agg(F.count("*").alias("shared"))
            .select(
                "id_a",
                "id_b",
                F.col("__nanb").alias("__den_base"),
                "shared",
            )
        )
        return (
            shared.withColumn(
                "jaccard", F.col("shared") / (F.col("__den_base") - F.col("shared"))
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
        )
    else:
        a = ex.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"), "g")
        b = ex.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"), "g")
        shared = (
            a.join(b, "g")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "na", "nb")
            .agg(F.count("*").alias("shared"))
        )
    return (
        shared.withColumn(
            "jaccard", F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def fuzzy_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    est_threshold: float = 0.7,
    **lsh_kwargs,
) -> DataFrame:
    """The complete MinHash-LSH fuzzy-dedup flow: candidate pairs above
    ``est_threshold`` estimated Jaccard form a similarity graph, connected
    components cluster transitive near-duplicates (a~b, b~c => one
    cluster even if a~c was never a candidate — the standard web-corpus
    semantics), and each cluster keeps its min id. Returns one row per
    input doc: (id, keeper_id, is_keeper).

    Every stage is the scale-shaped operator it composes: banded LSH with
    bounded buckets (minhash_lsh_candidates) and O(log n)-round
    large-star/small-star components (operators.canonical) — no all-pairs
    comparison, no diameter-bound iteration, at any corpus size."""
    from .canonical import connected_components

    cands = minhash_lsh_candidates(df, id_col, text_col, **lsh_kwargs).filter(
        F.col("est_jaccard") >= est_threshold
    )
    comps = connected_components(
        cands.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    ids = df.select(F.col(id_col).alias("id"))
    return (
        ids.join(comps.withColumnRenamed("node", "id"), "id", "left")
        .select(
            "id",
            F.coalesce("component", F.col("id")).alias("keeper_id"),
        )
        .withColumn("is_keeper", F.col("id") == F.col("keeper_id"))
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per token xxhash64; bit b of the fingerprint is
    the sign of sum over tokens of ±1 by that token-hash bit. One explode +
    one groupBy; returns (id, simhash bigint)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    per = toks.groupBy("id").agg(*aggs)
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return per.select("id", fp.alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR via bit_count (JVM intrinsic)."""
    return F.bit_count(a.bitwiseXOR(b))


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT word-n-gram Jaccard join via prefix filtering (Bayardo et
    al., WWW'07 "Scaling Up All Pairs Similarity Search" / PPJoin family —
    public algorithm): no max_df recall caveat.

    Each doc indexes only its PREFIX — the |G| - ceil(t*|G|) + 1 rarest
    shingles in global-document-frequency order; two docs with Jaccard >=
    t must share a prefix shingle, so the candidate join on prefix grams
    misses nothing. Boilerplate shingles are the most frequent, so they
    sort LAST and almost never enter a prefix — the hot-key blow-up the
    max_df cap guards against is pruned here exactly instead of lossily.
    Candidates then verify against the full shingle sets (array_intersect)
    with the standard length filter (t*|A| <= |B|).

    Trade-off vs ngram_jaccard_pairs: exact at any threshold, but ~5
    shuffles (df count, df join, per-doc prefix window, candidate join,
    two verify joins) against the capped path's one — the right choice
    when missed boilerplate-only pairs are unacceptable; the capped path
    when they are (its drop is audited via ngram_hot_grams)."""
    grams = shingle_frame(df, id_col, text_col, shingle_n, id_alias="id").withColumn(
        "n_sh", F.size("sh")
    )
    ex = grams.select("id", "n_sh", F.explode("sh").alias("g"))
    dfreq = ex.groupBy("g").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "g")
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")).cast("int") + 1
    pref = (
        ex.join(dfreq, "g")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= prefix_len)
        .select("id", "n_sh", "g")
    )
    cand = (
        pref.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"), "g")
        .join(pref.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"), "g"), "g")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: |B| in [t*|A|, |A|/t] is necessary for J >= t
        .filter(
            (F.col("nb") >= F.lit(threshold) * F.col("na"))
            & (F.col("na") >= F.lit(threshold) * F.col("nb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ga = grams.select(F.col("id").alias("id_a"), F.col("sh").alias("sha"))
    gb = grams.select(F.col("id").alias("id_b"), F.col("sh").alias("shb"))
    shared = F.size(F.array_intersect("sha", "shb"))
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("__shared", shared)
        .withColumn(
            "jaccard",
            F.col("__shared")
            / (F.size("sha") + F.size("shb") - F.col("__shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def substring_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 40,
    stride: int | None = None,
) -> DataFrame:
    """Fixed-width character windows for exact-substring dedup (Lee et al.
    2022, arXiv:2107.06499 "Deduplicating Training Data Makes Language
    Models Better" §4.1 ExactSubstr — public method, window-hash
    approximation of the suffix-array match at granularity ``w``).

    Returns one row per window: (id_col, pos, whash) where pos is the
    1-based start offset and whash = md5 of the w-char slice — md5 so a
    SQL oracle can recompute bit-identically. Only FULL windows are
    emitted (docs shorter than ``w`` yield none); default stride = w gives
    non-overlapping tiling, which keeps the index linear in corpus bytes
    (|text|/w rows — the shape that survives 100 TB) and makes span
    removal well-defined."""
    stride = w if stride is None else stride
    t = F.col(text_col)
    positions = F.when(
        F.length(t) >= w,
        F.sequence(F.lit(1), F.length(t) - (w - 1), F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    # Two selects, not one: computing md5 off a lateral alias of the
    # explode in the same select silently resolves to a pre-existing
    # input column named "pos" (normal resolution beats lateral-alias
    # resolution), corrupting every hash — and lateral aliases only
    # exist on Spark >= 3.4 anyway. Materialize the exploded offsets
    # under a dunder name first (ADVICE r5 #2).
    exploded = df.select(
        F.col(id_col), t.alias("__sw_text"), F.explode(positions).alias("__sw_pos")
    )
    return exploded.select(
        F.col(id_col),
        F.col("__sw_pos").alias("pos"),
        F.md5(F.col("__sw_text").substr(F.col("__sw_pos"), F.lit(w))).alias("whash"),
    )


def _window_firsts(wins: DataFrame, id_col: str) -> DataFrame:
    """Annotate each window occurrence with ``__is_first``: whether it is
    the globally first (id, pos) occurrence of its hash — the single
    source of the keeper tie-break both ``substring_dup_stats`` and
    ``remove_dup_spans`` must agree on.

    Implemented as a hash-keyed ``row_number`` window (the oracle's own
    formulation) instead of the previous min-struct agg + join-back: the
    agg+join shape evaluates the window-index subtree on BOTH join sides
    (exchange reuse does not always fire across the agg) and pays a join
    exchange on top of the hash shuffle; the window form is ONE shuffle on
    the hash and no join — measured 2.1s -> 1.2s on the sf1.0 fixed-window
    slot (guide §2.4: remove shuffles outright)."""
    w = Window.partitionBy("whash").orderBy(F.col(id_col), F.col("pos"))
    return wins.withColumn("__is_first", F.row_number().over(w) == 1)


def substring_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 40,
) -> DataFrame:
    """Per-document duplicated-span statistics under the global
    first-occurrence-keeps rule: a window occurrence is a duplicate iff an
    identical window exists at a smaller (id, pos) — so of k copies
    exactly one (the globally first) is kept, the ExactSubstr keeper
    semantics. Catches cross-doc boilerplate AND intra-doc repetition.

    Returns df's ids + (n_win, n_dup_win, dup_span_frac) where
    dup_span_frac = n_dup_win * w / length(text) (0.0 for docs with no
    windows). One shuffle on the 128-bit window hash (min-struct agg,
    map-side combinable) + one per-doc agg; no joins wider than the
    window index.

    REQUIRES ``id_col`` unique per row: stats join back on it, and the
    first-occurrence rule orders occurrences by (id, pos)."""
    wins = substring_windows(df, id_col, text_col, w=w)
    marked = _window_firsts(wins, id_col).withColumn("__dup", ~F.col("__is_first"))
    per_doc = marked.groupBy(id_col).agg(
        F.count("*").alias("n_win"),
        F.sum(F.col("__dup").cast("bigint")).alias("n_dup_win"),
    )
    return (
        df.select(F.col(id_col), F.length(F.col(text_col)).alias("__len"))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_win"), F.lit(0)).cast("bigint").alias("n_win"),
            F.coalesce(F.col("n_dup_win"), F.lit(0)).cast("bigint").alias("n_dup_win"),
            F.coalesce(
                F.round(
                    F.try_divide(
                        (F.col("n_dup_win") * w).cast("double"),
                        F.col("__len").cast("double"),
                    ),
                    4,
                ),
                F.lit(0.0),
            ).alias("dup_span_frac"),
        )
    )


def remove_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 40,
    out_col: str = "clean_text",
) -> DataFrame:
    """Drop duplicated w-char spans (non-overlapping tiling, global
    first-occurrence kept) and stitch the survivors back together —
    the destructive half of ExactSubstr dedup. The tail remainder
    (length % w chars, never a full window) is always kept, so
    len(clean_text) = len(text) - w * n_dup_win by construction.

    Per doc the kept start-offsets are collected into one sorted array
    (bounded by |text|/w ints) and the output is rebuilt with a single
    expression-side ``aggregate`` over substrings — no Python, no second
    text shuffle: only offsets move through the groupBy. REQUIRES
    ``id_col`` unique per row (the kept-offset array joins back on it)."""
    wins = substring_windows(df, id_col, text_col, w=w)
    kept = (
        _window_firsts(wins, id_col)
        .filter(F.col("__is_first"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("__kept"))
    )
    t = F.col(text_col)
    tail_start = (F.floor(F.length(t) / w) * w + 1).cast("int")
    body = F.aggregate(
        F.coalesce(F.col("__kept"), F.array().cast("array<int>")),
        F.lit(""),
        lambda acc, p: F.concat(acc, t.substr(p, F.lit(w))),
    )
    return (
        df.join(kept, id_col, "left")
        .withColumn(out_col, F.concat(body, t.substr(tail_start, F.length(t))))
        .drop("__kept")
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    mask: str = "05",
) -> DataFrame:
    """Content-defined chunks for offset-invariant exact-substring dedup
    (VERDICT r5 "Next round" #2). Fixed tiling from position 1
    (``substring_windows``) misses a duplicated passage whose copies start
    at different offsets mod w; content-defined chunking (the public CDC
    technique from LBFS/rsync-family dedup, Muthitacharoen et al. SOSP'01)
    cuts where a local k-gram fingerprint hits a mask, so boundaries
    depend only on LOCAL content and the interior chunks of a repeated
    passage align regardless of where the passage sits in each document —
    the offset-invariance of the Lee et al. 2022 suffix-array ExactSubstr
    semantics this family approximates.

    A position i (1-based, 2 <= i <= len-k+1) is a cut iff the first two
    hex chars of md5 of the k-gram starting at i are <= ``mask`` —
    md5-on-substring so a SQL oracle recomputes cut points bit-for-bit
    (p = 6/256 for mask '05' -> mean chunk ~43 chars, matching the w=40
    window granularity). Chunk boundaries = [1] + cuts + [len+1]; chunks
    tile the text EXACTLY (no tail remainder, unlike the fixed windows).

    Returns one row per chunk: (id_col, pos, clen, chash) with chash =
    md5 of the chunk text. The per-position cut test (an md5 per k-gram —
    one eval per text byte) runs as a codegen'd explode+filter rather
    than a higher-order ``filter`` lambda: HOF lambdas evaluate through
    the interpreted expression path, which made the cut scan the dominant
    cost (measured 5.8s -> 2.6s at sf1.0 for identical output). The cut
    positions (~2.3% of bytes under mask '05') are re-grouped per row with
    one small shuffle — (id, text hash, int) rows only, never text — and
    the chunk rebuild is per-row array work again; output rows ~ |text|/43,
    linear in corpus bytes, the shape that survives 100 TB."""
    n_mask = len(mask)
    t = F.col(text_col)
    n = F.length(t)
    cand = F.when(
        n >= k + 1, F.sequence(F.lit(2), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    # the regroup key is (id, xxhash64(text)), not the id alone: rows that
    # share an id but not their text keep their own cut lists (keyed on the
    # id, they merged theirs). Identical rows share one key, and the
    # collect_set gives each the cut list it would get alone. Only a 64-bit
    # hash collision between two texts under one id would merge them.
    keys = [F.col(id_col), F.xxhash64(t).alias("__cdc_h")]
    # codegen'd cut scan: one (id, position) row per candidate, md5 in the
    # filter, then per-row cut lists via a map-side-combinable collect
    cuts = (
        df.select(*keys, t.alias("__cdc_t"), F.explode(cand).alias("__i"))
        .filter(
            F.md5(F.col("__cdc_t").substr(F.col("__i"), F.lit(k))).substr(
                F.lit(1), F.lit(n_mask)
            )
            <= F.lit(mask)
        )
        .groupBy(id_col, "__cdc_h")
        .agg(F.sort_array(F.collect_set("__i")).alias("__cuts"))
    )
    with_cuts = df.select(*keys, t.alias("__cdc_text")).join(
        cuts, [id_col, "__cdc_h"], "left"
    )
    nn = F.length(F.col("__cdc_text"))
    bounds = F.concat(
        F.array(F.lit(1)),
        F.coalesce(F.col("__cuts"), F.array().cast("array<int>")),
        F.array((nn + 1).cast("int")),
    )
    b = with_cuts.select(F.col(id_col), "__cdc_text", bounds.alias("__b"))
    nb = F.size("__b")
    chunks = F.zip_with(
        F.slice("__b", 1, nb - 1),
        F.slice("__b", 2, nb - 1),
        lambda a, b: F.struct(a.alias("pos"), (b - a).alias("clen")),
    )
    # Same two-select shape as substring_windows: materialize the exploded
    # struct under a dunder alias before hashing, so a pre-existing
    # pos/clen input column can never shadow the chunk fields.
    exploded = b.select(
        F.col(id_col), "__cdc_text", F.explode(chunks).alias("__ck")
    )
    return exploded.select(
        F.col(id_col),
        F.col("__ck.pos").alias("pos"),
        F.col("__ck.clen").alias("clen"),
        F.md5(
            F.col("__cdc_text").substr(F.col("__ck.pos"), F.col("__ck.clen"))
        ).alias("chash"),
    ).filter(F.col("clen") > 0)


def _cdc_marked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    mask: str,
    min_dedup_len: int,
) -> DataFrame:
    """Chunk + mark pass shared by ``cdc_dup_stats`` and
    ``cdc_remove_dup_spans`` (both must agree on the keeper rule).

    A chunk is a BASE duplicate iff clen >= min_dedup_len and an identical
    chunk exists at a smaller (id, pos) — tiny chunks are exempt because
    short common strings ("the ") collide across unrelated documents, the
    same reason Lee et al. 2022 use a 50-char match threshold. A tiny
    REPEATED chunk is then RESCUED as duplicate iff an adjacent chunk in
    the same document is a base duplicate (single lag/lead pass — the
    adjacent-match merge of Lee et al.'s span stitching): inside a long
    duplicated passage the content-defined tiny chunks repeat verbatim
    with the passage, and exempting them would under-count ~8% of
    duplicated bytes, while a lone common tiny chunk in an otherwise
    unique doc has no base-dup neighbor and stays kept.

    Identical hash implies identical content hence identical length, so
    the first-occurrence rule over ALL chunks equals the rule over
    eligible-only chunks for eligible chunks. The doc-keyed window and
    the per-doc agg that callers run next share one partitioning.

    The first-occurrence test is a chash-keyed ``row_number`` window (the
    oracle's own formulation) rather than the previous min-struct agg +
    join-back, which re-evaluated the whole chunk subtree on both join
    sides and paid an extra join exchange (same rewrite as
    ``_window_firsts``)."""
    from pyspark.sql import Window

    chunks = cdc_chunks(df, id_col, text_col, k=k, mask=mask)
    wf = Window.partitionBy("chash").orderBy(F.col(id_col), F.col("pos"))
    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        chunks.withColumn("__rep", F.row_number().over(wf) > 1)
        .withColumn("__base", (F.col("clen") >= min_dedup_len) & F.col("__rep"))
        .withColumn(
            "__dup",
            F.col("__base")
            | (
                F.col("__rep")
                & (
                    F.coalesce(F.lag("__base").over(w), F.lit(False))
                    | F.coalesce(F.lead("__base").over(w), F.lit(False))
                )
            ),
        )
    )


def cdc_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    mask: str = "05",
    min_dedup_len: int = 20,
    marked: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-span statistics over content-defined chunks
    under the global first-occurrence-keeps rule (CDC analogue of
    ``substring_dup_stats``; offset-invariant — see ``cdc_chunks``).

    Chunks shorter than ``min_dedup_len`` are dedup-exempt unless rescued
    by an adjacent base duplicate (see ``_cdc_marked``: tiny chunks
    collide across unrelated documents, but inside a duplicated passage
    they repeat with it). Returns df's ids +
    (n_chunk, n_dup_chunk, dup_chars, dup_span_frac) where dup_span_frac
    = dup_chars / length(text) — exact, since CDC chunks tile the text.

    One shuffle on the 128-bit chunk hash (row_number window) + one
    doc-keyed window+agg stage. REQUIRES ``id_col`` unique per row.

    ``marked``: a precomputed ``_cdc_marked`` frame — pass it when stats
    AND removal run over the same input (dd_exact_clean_corpus) so the
    chunk scan is paid once, not once per consumer."""
    if marked is None:
        marked = _cdc_marked(df, id_col, text_col, k, mask, min_dedup_len)
    per_doc = marked.groupBy(id_col).agg(
        F.count("*").alias("n_chunk"),
        F.sum(F.col("__dup").cast("bigint")).alias("n_dup_chunk"),
        F.sum(F.when(F.col("__dup"), F.col("clen")).otherwise(0)).alias(
            "dup_chars"
        ),
    )
    return (
        df.select(F.col(id_col), F.length(F.col(text_col)).alias("__len"))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_chunk"), F.lit(0)).cast("bigint").alias("n_chunk"),
            F.coalesce(F.col("n_dup_chunk"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_chunk"),
            F.coalesce(F.col("dup_chars"), F.lit(0)).cast("bigint").alias("dup_chars"),
            F.coalesce(
                F.round(
                    F.try_divide(
                        F.col("dup_chars").cast("double"),
                        F.col("__len").cast("double"),
                    ),
                    4,
                ),
                F.lit(0.0),
            ).alias("dup_span_frac"),
        )
    )


def cdc_remove_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    mask: str = "05",
    min_dedup_len: int = 20,
    out_col: str = "clean_text",
    marked: DataFrame | None = None,
) -> DataFrame:
    """Drop duplicated content-defined chunks (global first-occurrence
    kept; dedup-exempt chunks under ``min_dedup_len`` always kept) and
    stitch survivors back together — the destructive, offset-invariant
    half of ExactSubstr dedup. Because chunks tile the text exactly,
    len(clean_text) = len(text) - dup_chars by construction.

    Per doc the kept (pos, clen) pairs are collected into one sorted
    array (bounded by |text|/~43 structs) and the output is rebuilt with
    a single expression-side ``aggregate`` over substrings — no Python,
    no second text shuffle. REQUIRES ``id_col`` unique per row.

    ``marked``: a precomputed ``_cdc_marked`` frame (see
    ``cdc_dup_stats``)."""
    if marked is None:
        marked = _cdc_marked(df, id_col, text_col, k, mask, min_dedup_len)
    kept = (
        marked.filter(~F.col("__dup"))
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("pos"), F.col("clen")))
            ).alias("__kept")
        )
    )
    t = F.col(text_col)
    body = F.aggregate(
        F.coalesce(
            F.col("__kept"), F.array().cast("array<struct<pos:int,clen:int>>")
        ),
        F.lit(""),
        lambda acc, s: F.concat(acc, t.substr(s["pos"], s["clen"])),
    )
    return df.join(kept, id_col, "left").withColumn(out_col, body).drop("__kept")
