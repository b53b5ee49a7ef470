"""Training-data curation operators: benchmark-contamination screening,
temperature-weighted source mixing, and token-budget sequence packing.

No reference analog (the reference stops at extraction/evaluation); these
are the corpus-prep operations a 100 TB pretraining pipeline runs between
dedup and training, built on the same primitives as the rest of the
engine:

- contamination_check: the n-gram train/eval overlap screen (the GPT-3 /
  PaLM decontamination recipe). Eval benchmarks are small (MBs), so their
  gram set is a broadcast side; the corpus side is one explode + one
  map-side-combinable groupBy on the doc key — no corpus-sized shuffle of
  anything wider than (id, gram-hit counts).
- source_mix_targets / mix_sources: per-source quota sampling with a
  temperature knob (w_i ~ count_i^(1/T)); deterministic via the engine's
  md5 hash-order convention (operators.sampling), so the same mixture is
  drawn at any parallelism. One window shuffle on the source key.
- pack_sequences: first-fit-decreasing packing of documents into
  max_tokens bins, parallelized by hash-salting docs into independent
  groups packed locally (packing is sequential only WITHIN a group, and
  group count scales with the cluster). Each group is one sorted
  collect_list and one ``aggregate`` fold, so packing starts no Python
  worker. Deterministic: group assignment and within-group order are
  hash- and value-derived, not partition-derived.

No operator here starts a Python worker; the module imports no pandas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from .dedup import word_shingles  # noqa: F401 — re-exported for callers/tests
from .sampling import SEED, hash_order_key


# ---------------------------------------------------------------- contamination
def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Per-document benchmark contamination: the fraction of the doc's
    distinct word n-grams that appear anywhere in the benchmark corpus.

    Returns (id, n_grams, n_hit, contamination, contaminated) — one row
    per input doc (zero-gram docs kept with ratio 0.0). ``contaminated``
    is ``contamination >= threshold``; training pipelines drop or flag
    those rows before the training mix is drawn.

    Scale shape: the benchmark gram set is distinct-ed then broadcast
    (eval sets are tiny next to the corpus); the corpus is exploded to
    (id, gram) and re-aggregated on the id key only — partial aggregation
    collapses each doc's grams map-side, so the one shuffle moves a row
    per document, not per gram.
    """
    # word_shingles of an empty text is [''] (slice semantics shared with
    # the dedup oracle); an empty gram is not evidence of overlap, so both
    # sides drop it and zero-token docs report 0 grams.
    ex = _gram_index(docs, n, id_col, text_col)
    bench = _bench_grams(benchmark, n, bench_text_col).withColumn("__hit", F.lit(1))
    hit = F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit")
    out = (
        ex.join(F.broadcast(bench), "g", "left")
        .groupBy(id_col, "n_grams")
        .agg(hit)
    )
    ratio = F.when(
        F.col("n_grams") > 0, F.col("n_hit") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col,
        "n_grams",
        "n_hit",
        F.round(ratio, 4).alias("contamination"),
        (ratio >= threshold).alias("contaminated"),
    )


def _nonempty(col):
    return F.filter(col, lambda g: g != "")


def _gram_index(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(id, n_grams, g) — the exploded distinct-gram index both screens
    aggregate. Tokens and the shingle set are staged in their own
    projections (dedup.shingle_frame rationale: a single nested expression
    re-evaluates the normalize+split chain per reference — measured 5x on
    the shingle pass)."""
    from .dedup import shingle_frame

    grams = shingle_frame(docs, id_col, text_col, n, out_col="__sh").select(
        id_col, _nonempty(F.col("__sh")).alias("grams")
    )
    return grams.select(
        id_col,
        F.size("grams").alias("n_grams"),
        F.explode_outer("grams").alias("g"),
    )


def _bench_grams(benchmark: DataFrame, n: int, bench_text_col: str) -> DataFrame:
    """Distinct benchmark gram set (the broadcast side of the screens)."""
    from .dedup import shingles_of_tokens, word_tokens

    tokd = benchmark.select(word_tokens(F.col(bench_text_col)).alias("__toks"))
    return tokd.select(
        F.explode(_nonempty(shingles_of_tokens(F.col("__toks"), n))).alias("g")
    ).distinct()


def contamination_check_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    fpp: float = 0.01,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """The contamination screen with the benchmark gram set replaced by a
    Bloom filter (operators/membership) — the 100 TB shape: ~10 bits per
    benchmark gram at 1% FP instead of the full broadcast string set,
    zero false negatives by construction (the screen can over-flag but
    never leak a contaminated doc).

    Returns the exact screen's columns plus ``n_hit_bloom`` (the Bloom
    screen's per-doc hit count, >= n_hit always) and ``bloom_ge_exact``
    (that invariant as a per-doc boolean).
    """
    from pyspark.sql import Observation

    from .membership import bloom_build, bloom_parameters, bloom_probe

    # materialize the distinct benchmark gram set once (it is small — the
    # broadcast side of the exact screen): the bloom build AND the exact
    # screen's broadcast side both read it, which would otherwise re-run
    # explode+distinct. The sizing count is observed on the checkpoint's
    # own job, not counted by another one.
    sized = Observation()
    bench_grams = (
        _bench_grams(benchmark, n, bench_text_col)
        .observe(sized, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_bench = sized.get["n"]
    m_bits, k = bloom_parameters(n_bench, fpp)
    bloom = bloom_build(bench_grams, "g", m_bits, k)

    # SINGLE pass over the corpus gram index: the exact broadcast hit and
    # the Bloom probe are both per-gram map-side columns, so one explode +
    # one doc-keyed aggregate produces both counts. The previous shape ran
    # the shingle+explode subtree twice (once per screen) and paid a second
    # doc-keyed shuffle + an id equi-join to glue the counts back together
    # — measured 20.4s -> 6.5s at sf1.0 (guide §2.4: two operations keyed
    # the same way share one exchange).
    ex = _gram_index(docs, n, id_col, text_col)
    probed = bloom_probe(ex, "g", bloom, k, out_col="__bloom")
    both = probed.join(
        F.broadcast(bench_grams.withColumn("__hit", F.lit(1))), "g", "left"
    )
    out = both.groupBy(id_col, "n_grams").agg(
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        F.sum(F.col("__bloom").cast("long")).alias("n_hit_bloom"),
    )
    ratio = F.when(
        F.col("n_grams") > 0, F.col("n_hit") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col,
        "n_grams",
        "n_hit",
        F.round(ratio, 4).alias("contamination"),
        (ratio >= threshold).alias("contaminated"),
        "n_hit_bloom",
        (F.col("n_hit_bloom") >= F.col("n_hit")).alias("bloom_ge_exact"),
    )


# ------------------------------------------------------------ paragraph dedup
def paragraph_dedup(
    docs: DataFrame,
    min_df: int = 2,
    keep_first: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """CCNet/Dolma-style cross-document paragraph deduplication: split each
    doc into paragraphs, hash the normalized content, and drop paragraphs
    whose hash occurs in >= min_df documents — boilerplate headers,
    licenses, navigation chrome. ``keep_first=True`` retains the single
    globally-first occurrence (min (id, pos)); False drops every copy.

    Returns (id, text, n_paras, n_dropped) with the doc reassembled from
    its surviving paragraphs in original order (text '' if none survive).

    Scale shape: one explode, one hash-key aggregate (min occurrence +
    distinct-doc count, both map-side combinable), one equi-join back on
    the hash, one reassembly aggregate on the doc key. Nothing is
    quadratic; hot boilerplate hashes are single aggregate rows, not
    posting lists.
    """
    import re as _re

    from .dedup import normalized_text

    # F.split takes a Java regex; escape so `sep` is always literal (an
    # unescaped "|" or "." separator would split between every character)
    paras = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
            "pos", "para"
        ),
    ).withColumn("h", F.md5(normalized_text(F.col("para"))))
    stats = paras.groupBy("h").agg(
        F.countDistinct("id").alias("df"),
        F.min(F.struct("id", "pos")).alias("first_occ"),
    )
    joined = paras.join(stats, "h")
    keep = F.col("df") < min_df
    if keep_first:
        keep = keep | (
            (F.col("first_occ.id") == F.col("id"))
            & (F.col("first_occ.pos") == F.col("pos"))
        )
    marked = joined.withColumn("__keep", keep)
    return (
        marked.groupBy("id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum((~F.col("__keep")).cast("int")).alias("n_dropped"),
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"), F.struct("pos", "para")
                            )
                        )
                    ),
                    lambda s: s["para"],
                ),
            ).alias("text"),
        )
        .select("id", "text", "n_paras", "n_dropped")
    )


def py_paragraph_dedup(
    docs: list[tuple[int, str]],
    min_df: int = 2,
    keep_first: bool = True,
    sep: str = "\n\n",
) -> dict[int, tuple[str, int, int]]:
    """Pure-Python twin of paragraph_dedup (property tests): id ->
    (text, n_paras, n_dropped). Must mirror the DataFrame op exactly —
    normalization via the same lowercase/strip/collapse rule, df counted
    over DISTINCT docs, first occurrence = min (id, pos)."""
    import re as _re

    def norm(s: str) -> str:
        # re.ASCII: Java's \s in the Spark op is ASCII-only; without the
        # flag Python's \s also matches \xa0 etc. and the twins diverge
        return _re.sub(
            r"\s+", " ", _re.sub(r"[^a-z0-9\s]", "", s.lower(), flags=_re.ASCII),
            flags=_re.ASCII,
        ).strip()

    paras = [
        (i, pos, p, norm(p))
        for i, text in docs
        for pos, p in enumerate(text.split(sep))
    ]
    df_count: dict[str, set[int]] = {}
    first: dict[str, tuple[int, int]] = {}
    for i, pos, _, h in paras:
        df_count.setdefault(h, set()).add(i)
        if h not in first or (i, pos) < first[h]:
            first[h] = (i, pos)
    out: dict[int, tuple[str, int, int]] = {}
    for i, _ in docs:
        mine = [(pos, p, h) for (j, pos, p, h) in paras if j == i]
        kept = [
            p
            for pos, p, h in mine
            if len(df_count[h]) < min_df
            or (keep_first and first[h] == (i, pos))
        ]
        out[i] = (sep.join(kept), len(mine), len(mine) - len(kept))
    return out


# --------------------------------------------------------------- source mixing
def source_mix_targets(
    docs: DataFrame,
    total: int,
    temperature: float = 1.0,
    source_col: str = "source",
    size_col: str | None = None,
) -> dict[str, tuple[int, int]]:
    """Per-source (count, target) quotas for a ``total``-doc mixture with
    sampling weight ``w_i = size_i ** (1/temperature)`` (T < 1 sharpens
    toward big sources, T > 1 flattens — the multilingual-mixing knob).
    ``size_i`` is the source's doc count, or its SUM of ``size_col`` when
    given (e.g. a token-count column: budget-weighted mixing, so a source
    of few long docs weighs like one of many short docs). Targets stay
    doc-count quotas either way. Bounded collect: one row per source.
    Integral ``1/temperature`` (e.g. T = 0.5 or 1.0) stays in exact
    integer arithmetic so the quota is bit-reproducible by any engine;
    fractional exponents use floats.
    """
    size = (
        F.count("*")
        if size_col is None
        else F.coalesce(F.sum(size_col), F.lit(0)).cast("long")
    ).alias("sz")
    counts = {
        r["src"]: (r["n"], r["sz"])
        for r in docs.groupBy(F.col(source_col).alias("src"))
        .agg(F.count("*").alias("n"), size)
        .collect()
    }
    k = 1.0 / temperature
    integral = float(k).is_integer()
    weights = {
        s: sz ** int(k) if integral else float(sz) ** k
        for s, (_, sz) in counts.items()
    }
    sw = sum(weights.values())
    if sw == 0:  # every source empty-sized: nothing to draw
        return {s: (c, 0) for s, (c, _) in counts.items()}
    quota = (lambda w: total * w // sw) if integral else (lambda w: int(total * w / sw))
    return {
        s: (counts[s][0], min(counts[s][0], quota(w)))
        for s, w in weights.items()
    }


def mix_sources(
    docs: DataFrame,
    targets: dict[str, tuple[int, int]],
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: int = SEED,
) -> DataFrame:
    """Draw the mixture: within each source, rank docs by the portable
    md5 hash order and keep the first ``target`` rows. Deterministic at
    any parallelism (sampling-module rationale); one window shuffle keyed
    on source, so each source's count is its exact quota.

    Returns the sampled rows as (id, source, rn).
    """
    quota = F.create_map(
        *[x for s, (_, t) in sorted(targets.items()) for x in (F.lit(s), F.lit(int(t)))]
    )
    w = Window.partitionBy(source_col).orderBy(hash_order_key([id_col], seed))
    return (
        docs.select(id_col, source_col)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= quota[F.col(source_col)])
    )


# ------------------------------------------------------------------- chunking
def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token windows — the
    embedding/RAG ingestion op (complement of pack_sequences): chunk i
    covers tokens [i*stride, i*stride + max_tokens), stride = max_tokens -
    overlap, so consecutive chunks share exactly ``overlap`` tokens.

    Returns (id, chunk_id, n_chunks, n_tokens, chunk_text); a doc of at
    most max_tokens tokens yields itself as its single chunk (empty docs
    included — no rows are dropped).

    Pure Catalyst (token split, a `sequence` of starts, posexplode, array
    slice + concat_ws): whole-stage-codegen map work, zero shuffles, zero
    Python — parallelism comes entirely from input splits.
    """
    from ..functions.text import tokens

    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    base = docs.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks"))
    n = F.size(F.col("__toks"))
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1)
    ).cast("int")
    starts = F.sequence(
        F.lit(0), (F.col("__n_chunks") - 1) * F.lit(stride), F.lit(stride)
    )
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, max_tokens)
    return (
        base.withColumn("__n_chunks", n_chunks)
        .withColumn("__starts", starts)
        .select(
            "id",
            F.col("__n_chunks").alias("n_chunks"),
            "__toks",
            F.posexplode("__starts").alias("chunk_id", "__start"),
        )
        .select(
            "id",
            "chunk_id",
            "n_chunks",
            F.size(chunk).alias("n_tokens"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
    )


# -------------------------------------------------------------------- packing
def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    n_groups: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pack documents into training-sequence bins of at most ``max_tokens``
    whitespace tokens via first-fit-decreasing, parallelized by salting
    docs into ``n_groups`` independent packing groups.

    Packing is inherently sequential, so the distributed shape is
    group-local: group = xxhash64(id) % n_groups (hash-derived, NOT
    partition-derived — bit-identical at any parallelism), then one
    groupBy collects each group's docs sorted by (tokens desc, id) and an
    ``aggregate`` fold packs them first-fit (pure Catalyst: one exchange,
    no Python worker). Bin ids are globally unique as group * 2^32 + local
    bin index. A doc longer than the budget gets a dedicated oversize bin
    (flagged, never silently truncated). A NULL text counts 0 tokens, the
    same as ''. Size n_groups to the cluster: bins never cross groups, so
    utilization converges to the single-machine packing as group
    populations grow.

    Returns (id, group, bin_id, n_tokens, oversize).
    """
    from ..functions.text import token_count

    sized = docs.select(
        F.col(id_col).alias("id"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_groups)).alias("group"),
        F.coalesce(token_count(F.col(text_col)), F.lit(0)).alias("n_tokens"),
    )
    # struct order = sort order: tokens desc, then id
    items = sized.groupBy("group").agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("n_tokens")).alias("neg"), "id", "n_tokens"))
        ).alias("items")
    )

    def step(acc, item):
        # bins: remaining capacity per local bin, -1 = closed oversize bin
        bins, tok = acc["bins"], item["n_tokens"]
        n = F.size(bins)
        # first bin with room; 0 = open a new one. The array_max guard
        # skips the search when no bin can fit.
        fit = F.when(
            (tok <= max_tokens) & (F.array_max(bins) >= tok),
            F.array_position(F.transform(bins, lambda c: c >= tok), True).cast("int"),
        ).otherwise(0)

        def place(f):
            new_bin = F.when(tok > max_tokens, -1).otherwise(max_tokens - tok)
            filled = F.concat(
                F.slice(bins, 1, f - 1),
                F.array(F.element_at(bins, f) - tok),
                F.slice(bins, f + 1, n - f),
            )
            return F.struct(
                F.when(f == 0, F.concat(bins, F.array(new_bin))).otherwise(filled).alias("bins"),
                F.concat(acc["assign"], F.array(F.when(f == 0, n).otherwise(f - 1))).alias("assign"),
            )

        # a lambda binds fit once; Catalyst does not share a subexpression
        # used several times inside the fold, so each use would search again
        return F.element_at(F.transform(F.array(fit), place), 1)

    empty = F.array().cast("array<int>")
    folded = items.select(
        "group",
        "items",
        F.aggregate(
            "items", F.struct(empty.alias("bins"), empty.alias("assign")), step
        )["assign"].alias("assign"),
    )
    z = F.explode(F.arrays_zip("items", "assign")).alias("z")
    return folded.select("group", z).select(
        F.col("z.items.id").alias("id"),
        "group",
        (F.col("group") * F.lit(1 << 32) + F.col("z.assign")).alias("bin_id"),
        F.col("z.items.n_tokens").alias("n_tokens"),
        (F.col("z.items.n_tokens") > max_tokens).alias("oversize"),
    )


def py_pack_ffd(
    items: list[tuple], max_tokens: int
) -> dict:
    """Pure-Python twin of pack_sequences' per-group FFD (property tests):
    items = [(id, n_tokens)], returns id -> local bin index. Must mirror
    the Catalyst fold exactly — (tokens desc, id) order, first fit,
    oversize docs in dedicated closed bins."""
    out: dict = {}
    bins: list[int] = []
    for i, tok in sorted(items, key=lambda t: (-t[1], t[0])):
        if tok > max_tokens:
            bins.append(-1)
            out[i] = len(bins) - 1
            continue
        for b, cap in enumerate(bins):
            if cap >= tok:
                bins[b] = cap - tok
                out[i] = b
                break
        else:
            bins.append(max_tokens - tok)
            out[i] = len(bins) - 1
    return out


def pack_stats(packed: DataFrame, max_tokens: int) -> DataFrame:
    """One-row packing audit: doc/bin counts, budget violations (must be 0
    outside oversize bins), and mean bin utilization."""
    bins = packed.groupBy("bin_id").agg(
        F.sum("n_tokens").alias("bin_tokens"),
        F.max(F.col("oversize").cast("int")).alias("oversize"),
    )
    return bins.agg(
        F.count("*").alias("n_bins"),
        F.sum(
            (
                (F.col("bin_tokens") > max_tokens)
                & (F.col("oversize") == 0)
            ).cast("int")
        ).alias("n_violations"),
        F.sum("oversize").alias("n_oversize_bins"),
        F.round(
            # coalesce: avg over zero regular bins (all-oversize corpus)
            # is NULL, and consumers compare it numerically
            F.coalesce(
                F.avg(
                    F.when(
                        F.col("oversize") == 0,
                        F.col("bin_tokens") / F.lit(float(max_tokens)),
                    )
                ),
                F.lit(0.0),
            ),
            4,
        ).alias("mean_utilization"),
    )


def _bigram_pairs(tok_col):
    """(w1, w2) structs for each adjacent token pair of an array column —
    shared by the LM's training and scoring paths so their windowing can
    never diverge."""
    return F.zip_with(
        F.slice(tok_col, 1, F.greatest(F.size(tok_col) - 1, F.lit(0))),
        F.slice(tok_col, 2, F.greatest(F.size(tok_col) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def _lm_tokens(text_col: str):
    """Lowercased whitespace tokens — ONE tokenization shared by training
    and scoring so the two paths can never diverge."""
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != "")
    return F.transform(toks, lambda t: F.lower(t))


def train_ngram_lm(corpus: DataFrame, text_col: str = "text"):
    """Build the bigram LM's count tables from a reference corpus: returns
    (uni, bi) — ``uni(w, c_w)`` and ``bi(w1, w2, c_b)``. Two Zipf-keyed
    hash aggregates with map-side combine; at 100 TB this runs ONCE over
    the reference data (CCNet trains on Wikipedia) and the tables persist
    as a stage, instead of re-aggregating the corpus per scoring query."""
    base = corpus.select(_lm_tokens(text_col).alias("__t"))
    uni = (
        base.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c_w"))
    )
    bi = (
        base.select(F.explode(_bigram_pairs(F.col("__t"))).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_b"))
    )
    return uni, bi


def save_ngram_lm(corpus: DataFrame, out_dir: str, text_col: str = "text") -> None:
    """Train and persist the LM count tables (``uni``/``bi`` parquet under
    ``out_dir``) — the train-once artifact a 100 TB deployment scores
    everything against."""
    import os

    uni, bi = train_ngram_lm(corpus, text_col)
    uni.write.mode("overwrite").parquet(os.path.join(out_dir, "uni"))
    bi.write.mode("overwrite").parquet(os.path.join(out_dir, "bi"))


def load_ngram_lm(spark, out_dir: str):
    """Load persisted LM count tables; pass the result as ``model=`` to
    ``ngram_lm_score`` to skip the per-query training aggregates. The
    schemas are the ones ``train_ngram_lm`` writes, declared so the read
    runs no Parquet schema-inference job per table."""
    import os

    return (
        spark.read.schema("w string, c_w bigint").parquet(os.path.join(out_dir, "uni")),
        spark.read.schema("w1 string, w2 string, c_b bigint").parquet(os.path.join(out_dir, "bi")),
    )


def ngram_lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
    lm: DataFrame | None = None,
    model: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """CCNet-style LM-perplexity quality signal (Wenzek et al. 2020,
    arXiv:1911.00359 — public method): score each document by the
    perplexity of a BIGRAM language model with stupid backoff (Brants et
    al. 2007) to unigrams. CCNet trains the LM on a reference corpus
    (Wikipedia) and keeps low-perplexity web text; here the model is
    trained on ``lm`` (a reference corpus DataFrame with the same text
    column) or, by default, on the scored corpus itself — in-distribution
    documents score low, out-of-distribution gibberish backs off to the
    unseen floor and scores high.

    Returns (id, n_tokens, avg_nll, perplexity) — perplexity =
    exp(mean over token transitions of -log P(w_i | w_{i-1})), with
    P(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})          when seen,
                       alpha * c(w_i) / T                    backoff,
                       alpha / T                              unseen word.
    Documents with < 2 tokens carry NULL avg_nll/perplexity (no
    transition to score).

    Scale shape (100 TB): two count aggregates build the model — a
    unigram table and a bigram table, both Zipf-keyed hash aggs with
    map-side combine — then scoring is one explode over the corpus'
    transitions and two equi-joins against the count tables (vocab-sized,
    far smaller than the corpus; AQE's skew join handles the Zipf head,
    and both joins broadcast automatically when the vocab fits). All
    expression-only — no Python in the model build or the scoring path;
    the whole thing is SQL-expressible (DuckDB twin in
    tests/test_curation.py pins engine parity).

    The model comes from, in precedence order: ``model`` (pre-trained
    (uni, bi) count tables — see train/save/load_ngram_lm; the persisted
    100 TB shape), else ``lm`` (a reference corpus trained inline), else
    the scored corpus itself (self-train)."""
    if model is None:
        model = train_ngram_lm(lm if lm is not None else docs, text_col)
    uni, bi = model
    total = uni.agg(F.sum("c_w").cast("double").alias("T"))

    scored_toks = docs.select(
        F.col(id_col).alias("id"),
        _lm_tokens(text_col).alias("__t"),
    )
    # explode_outer keeps zero-transition docs as one NULL row, so the
    # final frame needs NO second tokenization pass + join-back (the old
    # all_docs restore join evaluated the tokenizer twice per corpus)
    trans = scored_toks.select(
        "id",
        F.size("__t").alias("n_tokens"),
        F.explode_outer(_bigram_pairs(F.col("__t"))).alias("p"),
    ).select(
        "id", "n_tokens", "p.w1", "p.w2", F.col("p").isNotNull().alias("__has")
    )
    joined = (
        trans.join(bi, ["w1", "w2"], "left")
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c_w", "c_w1"), "w1", "left")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c_w", "c_w2"), "w2", "left")
        .crossJoin(total)
    )
    prob = (
        F.when(
            F.col("c_b").isNotNull(),
            F.col("c_b").cast("double") / F.col("c_w1"),
        )
        .when(
            F.col("c_w2").isNotNull(),
            F.lit(alpha) * F.col("c_w2") / F.col("T"),
        )
        .otherwise(F.lit(alpha) / F.col("T"))
    )
    # FIXED-POINT mean (same rationale as ivf_centroids' Lloyd means): a
    # float F.avg sums in partition order, and a mean landing within a few
    # ulps of a 0.00005 rounding boundary could flip the 4th decimal
    # between runs/parallelism. floor(nll * 1e9) summed as longs commutes;
    # the <= 1e-9 per-term quantization is invisible at round-4. The
    # DuckDB oracle and the python twin mirror the identical fixed-point.
    # zero-transition docs (the explode_outer NULL row) keep NULL avg_nll:
    # the guarded division preserves the old restore-join semantics with
    # bit-identical terms (same long sum, same transition count).
    # Grouped on the id ALONE (n_tokens recovered with max — constant per
    # id, bit-identical): an aggregate keyed exactly on the downstream
    # join key is provably unique, so a consumer that left-joins the
    # scores and then prunes them (e.g. a count over txt_profile) lets the
    # optimizer ELIMINATE this whole subtree — grouping on (id, n_tokens)
    # silently blocked that and forced the LM pipeline under count().
    n_trans = F.sum(F.col("__has").cast("long"))
    per_doc = joined.groupBy("id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.when(
            n_trans > 0,
            F.sum(
                F.when(
                    F.col("__has"),
                    F.floor(-F.log(prob) * F.lit(1e9)).cast("long"),
                )
            )
            / (n_trans * F.lit(1e9)),
        ).alias("avg_nll"),
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.round("avg_nll", 4).alias("avg_nll"),
        F.round(F.exp("avg_nll"), 4).alias("perplexity"),
    )
