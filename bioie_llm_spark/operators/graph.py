"""Iterative graph algorithms beyond connected components: PageRank in
deterministic fixed-point arithmetic.

A KG pipeline ranks canonicalized entities by link structure (entity
importance for retrieval / prompt budgeting); PageRank is the standard
choice and the canonical "iterative join+agg" Spark workload. Floating
point would make the result depend on partition-level summation order
AND on the engine — so ranks are integers in units of 1/scale (the same
fixed-point trick as the one-pass Lloyd codebooks, similarity.py):

    r0(v)     = scale // N
    contrib(u)= r(u) // deg(u)                 (integer floor division)
    r'(v)     = (scale // N) * 15 // 100  +  85 * sum(contrib) // 100

over the SYMMETRIZED edge set (every node then has deg >= 1 and an
in-neighbor, so there is no dangling mass and the vector stays put at
~scale total). Integer ops are associative/commutative exactly, so any
partitioning, any engine, any summation order produces bit-identical
ranks — the DuckDB oracle unrolls the same recurrence and must match
hash-for-hash.

Scale shape: per iteration one node-keyed equi-join (ranks x degrees,
both node-sized), one edge-keyed join, one map-side-combinable groupBy
on the destination — O(|E|) shuffle per round, never materializing
anything quadratic; localCheckpoint per round keeps the plan flat at
any iteration count (the cc_components pattern, canonical.py:120).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank_fixed_point", "symmetrize"]


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Directed edge list -> distinct symmetric (a, b) pairs, self-loops
    dropped — the same canonical form as connected_components."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    return e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    scale: int = 10**12,
) -> DataFrame:
    """(node, rank_int) after ``iterations`` rounds of damped (0.85)
    PageRank over the symmetrized graph, in 1/scale fixed-point units.
    Bit-identical at any parallelism and reproducible in plain SQL.

    Executor loss: the symmetrized graph and the ranks (every third round
    and the last) are ``localCheckpoint()``ed, so their blocks live only
    in executor storage and the truncated lineage cannot recompute them.
    Losing an executor that holds them fails the call; it never returns
    wrong ranks. Re-run the operator from its inputs."""
    sym = symmetrize(edges, src, dst).localCheckpoint()
    n_nodes = sym.select("a").distinct().count()
    if n_nodes == 0:
        # empty (or all-self-loop) edge set: no nodes to rank — return an
        # empty frame instead of dividing by zero (ADVICE r7)
        return sym.select(
            F.col("a").alias("node"), F.lit(None).cast("long").alias("rank_int")
        )
    r0 = scale // n_nodes
    base = (scale // n_nodes) * 15 // 100

    # size the per-round shuffles from the measured node count (same
    # adaptive rule as canonical.connected_components: ~100k keys per
    # partition, floor 8) — a small graph at the session default pays
    # mostly empty-task launches per round. The sizing is an explicit
    # repartition(loop_parts, key) on every loop input, never a session
    # conf change. A checkpoint forgets its partitioning, so checkpointed
    # frames are repartitioned where they are read; Spark drops a
    # repartition its input already satisfies, so a round shuffles sym once
    # (deg and both joins reuse it), the ranks only after a checkpoint, and
    # the contributions on their destination
    shuffle_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(8, min(shuffle_parts, -(-n_nodes // 100_000)))
    sym = sym.repartition(loop_parts, "a")
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("d"))
    ranks = deg.select("node", F.lit(r0).cast("long").alias("r"))
    for i in range(iterations):
        contribs = (
            ranks.repartition(loop_parts, "node")
            .join(deg, "node")
            .select("node", F.expr("r div d").alias("c"))
        )
        ranks = (
            contribs.join(sym, contribs["node"] == sym["a"])
            .repartition(loop_parts, "b")
            .groupBy(F.col("b").alias("node"))
            .agg(F.expr("(85 * sum(c)) div 100").alias("s"))
            .select("node", (F.lit(base) + F.col("s")).cast("long").alias("r"))
        )
        # checkpoint every 3rd round (and the last): lineage stays
        # bounded without paying a materialization action per round
        if i % 3 == 2 or i == iterations - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", F.col("r").alias("rank_int"))
