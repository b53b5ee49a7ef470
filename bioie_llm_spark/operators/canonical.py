"""Entity canonicalization (north_star stage 3): normalized-name keys,
string-similarity (Jaccard) candidate pairs, and connected-components
clustering — all as DataFrame ops, no GraphFrames dependency.

The reference never canonicalizes (its gazetteers are already canonical);
this layer is what makes the engine usable on open-world corpora where the
same entity surfaces as `PSD-95` / `psd95` / `PSD 95`.

Scale design:
- candidate generation is BLOCKED (normalized-name key, then char-n-gram
  inverted index) — never an all-pairs cross join;
- connected components run as iterative small-label propagation over the
  edge list: each round is one shuffle on `node`; components here are
  shallow alias clusters, so rounds ~ O(log(diameter)) with early exit;
  each round is localCheckpoint'ed to cut lineage growth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _list_pairs


def normalize_name(col: Column) -> Column:
    """Canonical string key: uppercase, strip all non-alphanumerics
    (`PSD-95`, `psd 95`, `Psd_95` -> `PSD95`)."""
    return F.upper(F.regexp_replace(col, "[^a-zA-Z0-9]", ""))


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams of the normalized name (padded variant
    unnecessary for blocking). Pure expressions: sequence + transform."""
    norm = normalize_name(col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(norm, i, n)))


def jaccard_pairs(
    names: DataFrame,
    name_col: str = "name",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 200,
) -> DataFrame:
    """Candidate near-duplicate name pairs with char-n-gram Jaccard >=
    threshold. Inverted-index blocking: explode n-grams, self-join on the
    gram (equi-join -> shuffle on gram key, skew-safe under AQE), count
    shared grams per pair, then Jaccard = shared / (|A| + |B| - shared).
    Never materializes the cartesian product.

    ``max_df``: grams occurring in more than max_df names are dropped from
    the INDEX (not from the gram counts) — a ubiquitous gram ("PR0" in a
    synthetic vocab, "ING" in English) contributes O(df^2) candidate pairs
    and no discrimination; capping bounds the blow-up at large
    vocabularies. Pairs whose overlap is exclusively ubiquitous grams are
    missed — the standard blocking trade-off, mirrored in the DuckDB
    oracle.

    Physical shape (capped path, same as dedup.ngram_jaccard_pairs): ONE
    evaluation of the n-gram subtree and ONE shuffle on the gram key —
    bounded posting lists via collect_list with the cap as a HAVING (so no
    group exceeds max_df members), pairs expanded per list
    (``dedup._list_pairs``); the join formulation (kept for max_df=None)
    evaluates the normalize+gram map three times."""
    grams = names.select(
        F.col(name_col).alias("name"), char_ngrams(F.col(name_col), n).alias("grams")
    ).withColumn("n_grams", F.size("grams"))
    exploded = grams.select("name", "n_grams", F.explode("grams").alias("gram"))
    if max_df is not None:
        members = (
            exploded.groupBy("gram")
            .agg(
                F.collect_list(F.struct("name", "n_grams")).alias("ms"),
                F.count("*").alias("__df"),
            )
            .filter((F.col("__df") >= 2) & (F.col("__df") <= max_df))
        )
        # name_a < name_b drops the self-pair a repeated name would make,
        # so the counts match the join formulation for any input
        pairs = _list_pairs(members).select(
            F.least("x.name", "y.name").alias("name_a"),
            F.greatest("x.name", "y.name").alias("name_b"),
            (F.col("x.n_grams") + F.col("y.n_grams")).alias("__nanb"),
        ).filter(F.col("name_a") < F.col("name_b"))
        shared = pairs.groupBy("name_a", "name_b", "__nanb").agg(
            F.count("*").alias("shared")
        )
    else:
        a = exploded.select(
            F.col("name").alias("name_a"), F.col("n_grams").alias("na"), "gram"
        )
        b = exploded.select(
            F.col("name").alias("name_b"), F.col("n_grams").alias("nb"), "gram"
        )
        shared = (
            a.join(b, "gram")
            .filter(F.col("name_a") < F.col("name_b"))
            .groupBy("name_a", "name_b", (F.col("na") + F.col("nb")).alias("__nanb"))
            .agg(F.count("*").alias("shared"))
        )
    return shared.withColumn(
        "jaccard", F.col("shared") / (F.col("__nanb") - F.col("shared"))
    ).filter(F.col("jaccard") >= threshold).select("name_a", "name_b", "jaccard")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Undirected edge list -> (node, component) where component = the
    lexicographic min node id of the component.

    Alternating **large-star / small-star** (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public algorithm):
    converges in O(log n) rounds regardless of graph DIAMETER, where the
    naive min-label propagation this replaces needs O(diameter) rounds — a
    long near-dup chain (the classic web-corpus case) silently exhausted
    the old implementation's iteration cap and returned unconverged labels
    (regression-tested on a 300-node path now). Every step is join/groupBy
    algebra — no per-group collect, so hub components of any size stream;
    per-round localCheckpoint keeps plans flat; convergence = unchanged
    (count, xor-hash) of the canonical edge set, one aggregate per round.

    - large-star: every node links its LARGER neighbors to its minimum
      neighbor -> (m, v) edges via one groupBy + one join.
    - small-star: every node links its smaller-or-equal neighbors to the
      minimum of that set -> (m, a) + (m, b) edges, same shape.

    Executor loss: every round is ``localCheckpoint()``ed, so its blocks
    live only in executor storage and the truncated lineage cannot
    recompute them. Losing an executor that holds them fails the call; it
    never returns wrong labels. Re-run the operator from its inputs.
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # canonical undirected pair set (a < b); self-loops contribute no edge
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .distinct()
        .localCheckpoint()
    )

    def _signature(df: DataFrame) -> tuple:
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
        ).first()
        return row["n"], row["h"]

    sig = _signature(e)
    # Size the per-round shuffles from the MEASURED edge count (known from
    # the signature action) instead of the session default: a small graph
    # at 64 shuffle partitions pays hundreds of empty-task launches per
    # round across the per-round checkpoints, which dominate wall time
    # (measured 5.7s -> 4.5s for the sf1.0 cc+pagerank slot at 8
    # partitions). ~100k edges per partition keeps big graphs at the
    # session default — scale-adaptive, never a local-mode constant. The
    # sizing is an explicit repartition(loop_parts, key) on every loop
    # input, never a session conf change, so a concurrent query on the same
    # session keeps its shuffle partition count. A checkpoint forgets its
    # partitioning, so a checkpointed frame is repartitioned where it is
    # read.
    shuffle_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(8, min(shuffle_parts, -(-max(sig[0], 1) // 100_000)))
    for _ in range(max_iter):
        # --- large-star --- one shuffle of sym on `a` serves the min agg
        # and the join
        sym = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).repartition(loop_parts, "a")
        mins = sym.groupBy(F.col("a").alias("u")).agg(
            F.min("b").alias("mn")
        ).select("u", F.least("mn", F.col("u")).alias("m"))
        # checkpointed: small-star reads `large` twice (min agg + join);
        # duplicates are tolerated downstream (min unaffected, final
        # distinct canonicalizes), so no distinct shuffle here
        large = (
            sym.withColumnRenamed("a", "u")
            .join(mins, "u")
            .filter(F.col("b") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("b"))
            .filter(F.col("a") != F.col("b"))
            .localCheckpoint()
        ).repartition(loop_parts, "b")
        # --- small-star over (a < b) edges: per b, m = min of its
        # smaller neighborhood; link each smaller neighbor and b itself
        # to m ---
        m_b = large.groupBy("b").agg(F.min("a").alias("m"))
        small = (
            large.join(m_b, "b")
            .select(F.col("m").alias("a"), F.col("a").alias("b"))
            .unionByName(m_b.select(F.col("m").alias("a"), F.col("b")))
            .filter(F.col("a") != F.col("b"))
            .repartition(loop_parts, "a")
            .distinct()
            .localCheckpoint()
        )
        e = small
        new_sig = _signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    # fixpoint is a set of stars centered at each component's min node;
    # the groupBy-min is a no-op there and a safe reduction if max_iter
    # ever cuts a pathological graph short
    mapping = e.groupBy(F.col("b").alias("node")).agg(
        F.min("a").alias("component")
    )
    return (
        nodes.join(mapping, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


def canonicalize_entities(
    names: DataFrame, name_col: str = "name", jaccard_threshold: float = 0.5
) -> DataFrame:
    """name -> canonical_id mapping. Edges = (exact normalized-name match)
    UNION (char-3-gram Jaccard >= threshold); canonical id = min name in the
    connected component."""
    named = names.select(F.col(name_col).alias("name")).distinct()
    norm_edges = (
        named.withColumn("norm", normalize_name(F.col("name")))
        .groupBy("norm")
        .agg(F.min("name").alias("rep"), F.collect_set("name").alias("members"))
        .select(F.col("rep").alias("src"), F.explode("members").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    jac_edges = jaccard_pairs(named, "name", threshold=jaccard_threshold).select(
        F.col("name_a").alias("src"), F.col("name_b").alias("dst")
    )
    edges = norm_edges.unionByName(jac_edges)
    comps = connected_components(edges)
    return (
        named.join(comps, named.name == comps.node, "left")
        .select("name", F.coalesce("component", F.col("name")).alias("canonical_id"))
    )


def canonicalize_triples_colocated(
    spark, triples_table: str, mapping_table: str
) -> DataFrame:
    """Canonical remap over BUCKETED tables — the 100-TB shape of
    canonicalize_triples when the mapping outgrows broadcast size.

    triples_table is bucketed by ``subj`` (written by the flagship sink,
    pipeline.build_triples -> bucketing.ensure_bucketed_table) and
    mapping_table by ``name``, same bucket count: the subj-remap sort-merge
    join is then EXCHANGE-FREE on both sides — the triple table's shuffle,
    paid once at write time, is amortized over every subsequent remap /
    audit join on subj (plan-asserted in tests via shuffle_exchange_count).
    The obj remap joins the (already subj-remapped) intermediate, whose
    partitioning no longer matches, so it pays the one remaining shuffle —
    co-locating BOTH keys would need a second obj-bucketed copy of the
    table, the standard space/shuffle trade."""
    triples = spark.table(triples_table)
    mapping = spark.table(mapping_table)
    m_s = mapping.select(
        F.col("name").alias("subj"), F.col("canonical_id").alias("subj_c")
    )
    m_o = mapping.select(
        F.col("name").alias("obj"), F.col("canonical_id").alias("obj_c")
    )
    out_cols = [c for c in triples.columns if c not in ("subj", "obj")]
    return (
        triples.join(m_s, "subj", "left")
        .join(m_o, "obj", "left")
        .select(
            F.coalesce("subj_c", F.col("subj")).alias("subj"),
            F.coalesce("obj_c", F.col("obj")).alias("obj"),
            *out_cols,
        )
    )


def canonicalize_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Remap subj/obj through the canonical-id mapping (broadcast — the
    mapping is gazetteer-sized)."""
    m_s = F.broadcast(
        mapping.select(F.col("name").alias("subj"), F.col("canonical_id").alias("subj_c"))
    )
    m_o = F.broadcast(
        mapping.select(F.col("name").alias("obj"), F.col("canonical_id").alias("obj_c"))
    )
    out_cols = [c for c in triples.columns if c not in ("subj", "obj")]
    return (
        triples.join(m_s, "subj", "left")
        .join(m_o, "obj", "left")
        .select(
            F.coalesce("subj_c", F.col("subj")).alias("subj"),
            F.coalesce("obj_c", F.col("obj")).alias("obj"),
            *out_cols,
        )
    )
