"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries are broadcast (k queries x N corpus = map-side work, one
  TakeOrdered per query via window). Dot products run as ``zip_with`` +
  ``aggregate`` — JVM-side, no Python.
- ``lsh_ann_topk``: the scale path — random-hyperplane LSH buckets
  (deterministic planes derived from md5, not RNG), candidates restricted
  to same-bucket (multi-probe: exact bucket plus 1-bit-flip neighbors),
  exact cosine re-rank within candidates. Sub-linear candidate set at the
  cost of recall; recall measured against brute force in tests.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force top-k by cosine: (query_id, vec_id, cosine_sim,
    rank). queries: (query_id, embedding) — broadcast-sized."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec"))
    scored = q.crossJoin(c).select(
        "query_id",
        "vec_id",
        cosine(F.col("qvec"), F.col("cvec")).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine_sim", 4).alias("cosine_sim"), "rank")
    )


def _hyperplanes(dim: int, n_planes: int, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (t, p, d) from
    md5(t|p|d) mapped to [-1, 1]. No RNG — stable across runs/engines."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int.from_bytes(hashlib.md5(f"{table}|{p}|{d}".encode()).digest()[:4], "big")
            row.append(h / 2**31 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-of-dot-product bucket id over the given hyperplanes (int)."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        bucket = bucket + F.when(dot(vec, p) > 0, F.lit(2**i)).otherwise(F.lit(0))
    return bucket


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= t).

    exact=True: all-pairs (correctness baseline / oracle twin — only for
    dimension-sized inputs). Default: LSH-bucketed candidate generation
    (same-bucket in any of n_tables hyperplane tables) then exact cosine —
    the 100 TB path; near-identical vectors agree on every hyperplane sign,
    so recall at high thresholds is ~1."""
    # each vector's norm once per row, not once per pair: the pair score
    # is dot / (na * nb), the same operands in the same order as cosine()
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        l2_norm(F.col(vec_col)).alias("norm"),
    )

    def side(df: DataFrame, x: str, *keys: str) -> DataFrame:
        return df.select(
            *keys,
            F.col("id").alias(f"id_{x}"),
            F.col("vec").alias(f"v{x}"),
            F.col("norm").alias(f"n{x}"),
        )

    if exact:
        pairs = side(c, "a").crossJoin(side(c, "b")).filter(F.col("id_a") < F.col("id_b"))
    else:
        tables = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        lsh_bucket(F.col("vec"), _hyperplanes(dim, n_planes, t)).alias(
                            "bucket"
                        ),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb")
        bucketed = c.select("id", "vec", "norm", tables).select(
            "id", "vec", "norm", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
        )
        pairs = (
            side(bucketed, "a", "table", "bucket")
            .join(side(bucketed, "b", "table", "bucket"), ["table", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "va", "vb", "na", "nb")
            .distinct()
        )
    return (
        pairs.select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cosine_sim"))
    )


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    c = F.array(*[F.lit(v) for v in centroid])
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid cell id (argmin of squared distances) as a pure
    expression — the IVF coarse quantizer applied per row, no shuffle."""
    dists = F.array(*[_sq_dist(vec, c) for c in centroids])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 2,
) -> list[list[float]]:
    """Deterministic coarse centroids: md5-ordered sample seeds refined by
    ``lloyd_iters`` Lloyd iterations expressed as DataFrame algebra
    (assign -> per-cell mean -> reassign; VERDICT r3 #5 — the unrefined
    sample left IVF recall@10 at 0.72 on the near-isotropic fixture).

    Bit-deterministic at any parallelism: no RNG, argmin ties break on the
    first minimal index, and the per-cell mean sums FIXED-POINT micro-units
    (``sum(cast(x * 1e6 as long))`` — integer addition commutes, unlike
    float summation whose result depends on partition order and would let
    a 1-ulp difference flip a cell assignment). Each iteration is one
    corpus pass + one (cell, pos)-key hash agg (<= n_centroids x dim keys,
    map-side combined); the collects stay n_centroids-row bounded. Empty
    cells retain their previous centroid."""
    cents = [
        list(r["__v"])
        for r in corpus.select(F.col(vec_col).alias("__v"), F.col(id_col).alias("__i"))
        .orderBy(F.md5(F.concat(F.col("__i").cast("string"), F.lit("|ivf"))))
        .limit(n_centroids)
        .collect()
    ]
    for _ in range(lloyd_iters):
        assigned = corpus.select(F.col(vec_col).alias("__v")).withColumn(
            "__cell", ivf_assign(F.col("__v"), cents)
        )
        comp = (
            assigned.select("__cell", F.posexplode("__v").alias("__p", "__x"))
            .groupBy("__cell", "__p")
            .agg(
                F.sum((F.col("__x") * F.lit(1e6)).cast("long")).alias("__s"),
                F.count("*").alias("__n"),
            )
        )
        rows = (
            comp.groupBy("__cell")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "__p",
                            (F.col("__s") / (F.col("__n") * F.lit(1e6))).alias("__m"),
                        )
                    )
                ).alias("__ms")
            )
            .collect()
        )
        refined = {r["__cell"]: [m["__m"] for m in r["__ms"]] for r in rows}
        # range over the SEEDS actually collected — a corpus smaller than
        # n_centroids yields fewer seeds, and indexing cents[i] for the
        # missing tail would raise instead of degrading gracefully
        cents = [refined.get(i, cents[i]) for i in range(len(cents))]
    return cents


def ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], DataFrame]:
    """Build the IVF-flat index ONCE: (centroids, assigned corpus
    (vec_id, cvec, cell)). The assigned side is the persistable artifact
    — at 100 TB the cell column is written next to the vectors so serve
    queries pay only the probe equi-join, never a corpus-wide
    re-assignment."""
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    assigned = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec")
    ).withColumn("cell", ivf_assign(F.col("cvec"), cents))
    return cents, assigned


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    index: "tuple[list[list[float]], DataFrame] | None" = None,
) -> DataFrame:
    """IVF-flat approximate top-k: deterministic coarse centroids
    (ivf_centroids), per-row cell assignment, queries probe
    their n_probe nearest cells, exact cosine re-rank inside the probed
    cells. The cell equi-join replaces the cross join; candidates shrink
    ~n_centroids/n_probe-fold. Centroids are dimension-sized and live in
    the plan as literals (collected once — bounded by n_centroids).
    Pass ``index`` (from a prior ivf_index call) to serve against a
    prebuilt index — the train-once shape, and what BASELINE.md's "ANN
    crossover, measured" timed: per-row cell assignment
    costs n_centroids squared-distances per corpus row and belongs with
    the build, not in every serve query."""
    if index is None:
        index = ivf_index(corpus, n_centroids, id_col, vec_col)
    cents, c = index
    dists = F.array(*[_sq_dist(F.col("qvec"), cc) for cc in cents])
    ranked_cells = F.slice(
        F.array_sort(
            F.zip_with(
                dists,
                F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                lambda d, i: F.struct(d.alias("d"), i.alias("cell")),
            )
        ),
        1,
        n_probe,
    )
    q = (
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .withColumn("probe", F.explode(ranked_cells))
        .select("query_id", "qvec", F.col("probe.cell").alias("cell"))
    )
    cand = F.broadcast(q).join(c, "cell").select(
        "query_id", "vec_id", cosine(F.col("qvec"), F.col("cvec")).alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine_sim", 4).alias("cosine_sim"), "rank")
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k via standard multi-table hyperplane LSH: bucket the
    corpus once per table (n_tables independent plane sets), probe each
    query's bucket per table (+ 1-bit-flip neighbor buckets when
    multiprobe), union candidates, exact cosine re-rank. The (table,
    bucket) equi-join replaces the cross join — candidates shrink
    ~2^n_planes-fold per table; more tables buy recall linearly in cost."""
    c_base = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec"))
    q_base = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = c_base.select(
        "vec_id",
        "cvec",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        lsh_bucket(F.col("cvec"), _hyperplanes(dim, n_planes, t)).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "cvec", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket"))
    probe_structs = []
    for t in range(n_tables):
        qb = lsh_bucket(F.col("qvec"), _hyperplanes(dim, n_planes, t))
        probe_structs.append(F.struct(F.lit(t).alias("table"), qb.alias("bucket")))
        if multiprobe:
            for i in range(n_planes):
                probe_structs.append(
                    F.struct(F.lit(t).alias("table"), qb.bitwiseXOR(F.lit(2**i)).alias("bucket"))
                )
    q = q_base.select(
        "query_id", "qvec", F.explode(F.array(*probe_structs)).alias("tb")
    ).select("query_id", "qvec", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket"))
    cand = (
        F.broadcast(q)
        .join(c, ["table", "bucket"])
        .select("query_id", "vec_id", "qvec", "cvec")
        .distinct()
        .select(
            "query_id", "vec_id", cosine(F.col("qvec"), F.col("cvec")).alias("cosine_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine_sim", 4).alias("cosine_sim"), "rank")
    )


def pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 2,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011, TPAMI — public
    method): split the ``dim``-dim space into ``m`` subspaces and learn
    ``ks`` centroids per subspace with the same deterministic seeding +
    fixed-point Lloyd refinement as ivf_centroids. Returns
    ``books[j][c] -> sub-vector`` — m * ks * (dim/m) floats, driver-sized
    (the whole codebook for m=8, ks=16, dim=64 is 1024 floats)."""
    sub = dim // m
    assert sub * m == dim, f"dim {dim} not divisible by m {m}"
    # ONE-PASS build (r6): the naive formulation ran m sequential
    # ivf_centroids jobs — m seed sort-limits plus m*lloyd_iters corpus
    # scans (measured 479 s at 200k x dim 64, the whole index-build cost).
    # The md5 seed order ignores the vector payload, so every subspace
    # seeds from the SAME ks rows: one collect slices all m seed sets.
    # Each Lloyd iteration is then a single scan that explodes each vector
    # into its m subvectors and hash-aggregates fixed-point sums keyed by
    # (subspace, cell, pos) — integer sums commute, so the refined
    # codebooks are BIT-IDENTICAL to the per-subspace formulation (pinned
    # by the unchanged sim_ann_recall ann_hash golden and the reference
    # twin in test_similarity), for 1 + lloyd_iters corpus passes total.
    seed_rows = (
        corpus.select(F.col(vec_col).alias("__v"), F.col(id_col).alias("__i"))
        .orderBy(F.md5(F.concat(F.col("__i").cast("string"), F.lit("|ivf"))))
        .limit(ks)
        .collect()
    )
    books = [
        [list(r["__v"])[j * sub : (j + 1) * sub] for r in seed_rows]
        for j in range(m)
    ]
    for _ in range(lloyd_iters):
        entries = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.slice(F.col("__v"), j * sub + 1, sub).alias("sv"),
                )
                for j in range(m)
            ]
        )
        subvs = (
            corpus.select(F.col(vec_col).alias("__v"))
            .select(F.explode(entries).alias("__e"))
            .select(F.col("__e.j").alias("__j"), F.col("__e.sv").alias("__sv"))
        )
        # per-subspace argmin: CASE on __j picks that subspace's centroid
        # literals; CaseWhen evaluates only the matched branch per row
        cell = ivf_assign(F.col("__sv"), books[m - 1])
        for j in range(m - 2, -1, -1):
            cell = F.when(
                F.col("__j") == j, ivf_assign(F.col("__sv"), books[j])
            ).otherwise(cell)
        comp = (
            subvs.withColumn("__cell", cell)
            .select("__j", "__cell", F.posexplode("__sv").alias("__p", "__x"))
            .groupBy("__j", "__cell", "__p")
            .agg(
                F.sum((F.col("__x") * F.lit(1e6)).cast("long")).alias("__s"),
                F.count("*").alias("__n"),
            )
        )
        rows = (
            comp.groupBy("__j", "__cell")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "__p",
                            (F.col("__s") / (F.col("__n") * F.lit(1e6))).alias("__m"),
                        )
                    )
                ).alias("__ms")
            )
            .collect()
        )
        refined = {
            (r["__j"], r["__cell"]): [mm["__m"] for mm in r["__ms"]] for r in rows
        }
        books = [
            [refined.get((j, c), books[j][c]) for c in range(len(books[j]))]
            for j in range(m)
        ]
    return books


def pq_encode(vec: Column, books: list[list[list[float]]]) -> Column:
    """PQ code array for a vector: per subspace, the argmin-distance
    centroid index (array<int> of length m). Pure expression — the
    encoded corpus carries m small ints instead of dim floats, the 10-100x
    memory-traffic reduction that makes exhaustive ANN viable at scale."""
    m = len(books)
    sub = len(books[0][0])
    return F.array(
        *[
            ivf_assign(F.slice(vec, j * sub + 1, sub), books[j])
            for j in range(m)
        ]
    )


def _adc_from_lut(lut: Column, codes: Column) -> Column:
    """Asymmetric-distance inner product from a per-query LUT: sum over
    subspaces of ``lut[j][codes[j]]`` — the per-candidate hot path is m
    element_at lookups and a left fold from 0.0."""
    return F.aggregate(
        F.zip_with(lut, codes, lambda t, c: F.element_at(t, c + 1)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _l2_normalize(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str
) -> DataFrame:
    """(id, unit vector) — the norm is computed once per row, not per
    element."""
    return (
        df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias("__v"))
        .withColumn("__n", l2_norm(F.col("__v")))
        .select(
            out_id, F.transform("__v", lambda x: x / F.col("__n")).alias(out_vec)
        )
    )


def ivfpq_index(
    corpus: DataFrame,
    n_centroids: int = 8,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]], DataFrame]:
    """Build the IVF-PQ index ONCE: (coarse centroids, PQ codebooks,
    encoded corpus (vec_id, cell, codes)). The encoded side is the
    persistable artifact — at dim=64/m=16 the codes are ~64x smaller than
    the raw doubles, so a 100 TB embedding table indexes down to a
    TB-scale scan — and the centroid/codebook lists are driver-sized
    (n_centroids*dim + m*ks*dim/m floats). Vectors are L2-normalized so
    ADC inner product estimates cosine directly."""
    norm = _l2_normalize(corpus, id_col, vec_col, "vec_id", "nvec")
    first = corpus.select(F.size(vec_col).alias("d")).first()
    if first is None or first["d"] is None or first["d"] <= 0:
        raise ValueError("ivfpq_index: empty corpus or null embedding column")
    dim = first["d"]
    cents = ivf_centroids(norm, n_centroids, "vec_id", "nvec")
    books = pq_codebooks(norm, dim, m, ks, "vec_id", "nvec")
    enc = norm.select(
        "vec_id",
        ivf_assign(F.col("nvec"), cents).alias("cell"),
        pq_encode(F.col("nvec"), books).alias("codes"),
    )
    return cents, books, enc


def ivfpq_query(
    enc: DataFrame,
    corpus: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 6,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Query a prebuilt IVF-PQ index: queries probe their n_probe nearest
    cells (equi-join on cell, no cross join), ADC ranks the candidates
    from codes alone, and only the top ``refine * k`` per query are
    re-ranked by exact cosine via a tiny vec_id join back to the corpus.
    Deterministic at any parallelism: both ranking windows break ties on
    vec_id.

    QUERY PREPROCESSING IS DRIVER WORK (r6, the FAISS client split):
    normalization, probe selection and the per-query ADC lookup table
    ``lut[j][c] = <query subvector j, books[j][c]>`` are computed in
    Python from the collected query batch — queries are broadcast-sized
    by contract (cosine_topk broadcasts them too), and this work is
    O(batch * n_centroids * dim), independent of corpus size. Expressing
    the LUT in-plan instead was measured 2.5x SLOWER end to end at the
    bench fixture: Catalyst re-analyzes the m*ks aggregate-lambda
    expression in every consumer of the shortlist subtree, a per-call
    driver cost that dwarfs the fixture's execution time. Float op
    order matches the old in-plan expressions exactly (left folds from
    0.0), so results are bit-identical."""
    import math

    spark = queries.sparkSession
    m = len(books)
    sub = len(books[0][0])

    def _pynorm(v: list[float]) -> list[float]:
        s = 0.0
        for x in v:
            s += x * x
        nrm = math.sqrt(s)
        return [x / nrm for x in v]

    def _pysqd(v: list[float], c: list[float]) -> float:
        s = 0.0
        for x, y in zip(v, c):
            s += (x - y) * (x - y)
        return s

    def _pydot(a: list[float], b: list[float]) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    qrows = queries.select(query_id_col, vec_col).collect()
    probe_rows = []
    qn_rows = []
    for r in qrows:
        qv = _pynorm([float(x) for x in r[vec_col]])
        qn_rows.append((r[query_id_col], qv))
        dists = [_pysqd(qv, cc) for cc in cents]
        order = sorted(range(len(cents)), key=lambda i: (dists[i], i))[:n_probe]
        lut = [
            [_pydot(qv[j * sub : (j + 1) * sub], books[j][c]) for c in range(len(books[j]))]
            for j in range(m)
        ]
        for cell in order:
            probe_rows.append((r[query_id_col], qv, lut, cell))

    from pyspark.sql import types as T

    qid_type = queries.schema[query_id_col].dataType
    q = spark.createDataFrame(
        probe_rows,
        T.StructType(
            [
                T.StructField("query_id", qid_type),
                T.StructField("qvec", T.ArrayType(T.DoubleType())),
                T.StructField("__lut", T.ArrayType(T.ArrayType(T.DoubleType()))),
                T.StructField("cell", T.IntegerType()),
            ]
        ),
    )
    qn = spark.createDataFrame(
        qn_rows,
        T.StructType(
            [
                T.StructField("query_id", qid_type),
                T.StructField("qvec", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    adc = F.broadcast(q).join(enc, "cell").select(
        "query_id",
        "vec_id",
        _adc_from_lut(F.col("__lut"), F.col("codes")).alias("adc_ip"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_ip").desc(), F.col("vec_id"))
    # the shortlist feeds TWO consumers (the hit-id semi-join and the
    # re-rank join); it is refine*k rows per query, so checkpointing it
    # executes the probe + ADC scan ONCE instead of twice
    shortlist = (
        adc.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= refine * k)
        .localCheckpoint()
    )
    # join FIRST, normalize after: only the refine*k shortlist rows pay
    # the raw-vector read + norm, not the whole corpus — at scale the
    # exact re-rank is a point lookup, not a second full scan
    hit_ids = shortlist.select(F.col("vec_id").alias(id_col)).distinct()
    hit_vecs = _l2_normalize(
        corpus.join(F.broadcast(hit_ids), id_col),
        id_col, vec_col, "vec_id", "nvec",
    )
    rerank = (
        shortlist.join(hit_vecs, "vec_id")
        .join(qn.select("query_id", F.col("qvec").alias("qv2")), "query_id")
        .select(
            "query_id", "vec_id", dot(F.col("qv2"), F.col("nvec")).alias("cosine_sim")
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    return (
        rerank.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine_sim", 4).alias("cosine_sim"), "rank")
    )


def ivfpq_auto_knobs(
    n_corpus: int,
    n_centroids: int,
    k: int = 10,
    n_probe: int | None = None,
    shortlist_frac: float = 0.08,
    refine_floor: int = 64,
) -> tuple[int, int]:
    """Corpus-size-derived serve knobs (n_probe, refine).

    At fixed ``refine`` the recall decays as the corpus grows: the ADC
    candidate set per query is ~n_corpus * n_probe / n_centroids, ADC is
    a coarse ranker whose quantization noise grows with the number of
    candidates competing for the shortlist, and only the top
    ``refine * k`` survive to exact re-rank. The measured crossover sweep
    (BASELINE.md, "ANN crossover, measured": dim 64, 64 cells, probe 8)
    shows recall@10 tracks the SHORTLIST / CANDIDATES ratio, not
    refine itself: ~5% of candidates re-ranked gives 0.89-0.97, ~10%
    gives ~1.0, while a fixed refine=128 decays 0.97@200k -> 0.79@400k.

    So: hold the ratio constant — ``refine = shortlist_frac * candidates
    / k`` (default 8%, the measured >=0.9 band), floored at
    ``refine_floor`` so small corpora keep the minimum shortlist the 50k
    fixture needed for ~1.0 recall. Cost stays scale-sane: the shortlist
    is point lookups (refine*k rows per query), so an 8%-of-candidates
    re-rank grows linearly with cell size while the dominant ADC scan is
    unchanged — at 100 TB a deployment additionally scales n_centroids
    ~ sqrt(n) at BUILD time (Jégou et al. 2011), which shrinks candidates
    and pulls refine back down; this helper only tunes the serve side of
    a given index.
    """
    import math

    if n_probe is None:
        n_probe = max(4, n_centroids // 8)
    n_probe = min(n_probe, n_centroids)
    candidates = n_corpus * n_probe / max(1, n_centroids)
    refine = max(refine_floor, math.ceil(shortlist_frac * candidates / k))
    return n_probe, refine


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 6,
    m: int = 8,
    ks: int = 16,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ approximate top-k (Jégou et al. 2011) — index + query in one
    call; production use builds the index once with ivfpq_index, persists
    the encoded corpus, and serves with ivfpq_query."""
    cents, books, enc = ivfpq_index(corpus, n_centroids, m, ks, id_col, vec_col)
    return ivfpq_query(
        enc, corpus, cents, books, queries, k, n_probe, refine,
        id_col, vec_col, query_id_col,
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public method): coarse-cluster the embeddings,
    compare pairs ONLY within a cluster, and keep one representative per
    semantic-duplicate group (keeper = min id of the connected component
    over within-cell cosine >= threshold edges).

    Returns (id, keeper_id, cell) — one row per input vector; singletons
    keep themselves. ``exact=True`` builds edges from the all-pairs cosine
    instead (cell = -1): the correctness twin for measuring what the
    cell blocking misses.

    Scale shape: the cell self-join is the SemDeDup contract — pairwise
    work is O(sum cell_size^2), so size ``n_centroids ~ N / target_cell``
    to bound it (the paper uses k ~ sqrt(N) clusters); the component step
    is the O(log n) large-star/small-star CC, and nothing all-pairs runs
    outside the exact twin."""
    from .canonical import connected_components

    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if exact:
        cells = c.select("id", F.lit(-1).alias("cell"))
        edges = cosine_near_dup_pairs(
            corpus, threshold, id_col, vec_col, exact=True
        ).select("id_a", "id_b")
    else:
        cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
        cells = c.withColumn("cell", ivf_assign(F.col("vec"), cents))
        a = cells.select(F.col("id").alias("id_a"), F.col("vec").alias("va"), "cell")
        b = cells.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"), "cell")
        edges = (
            a.join(b, "cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(cosine(F.col("va"), F.col("vb")) >= threshold)
            .select("id_a", "id_b")
        )
    comp = connected_components(edges, src="id_a", dst="id_b")
    return (
        cells.join(comp, cells["id"] == comp["node"], "left")
        .select(
            cells["id"],
            F.coalesce(comp["component"], cells["id"]).alias("keeper_id"),
            "cell",
        )
    )
