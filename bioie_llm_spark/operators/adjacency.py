"""Graph-shaping aggregates: symmetric adjacency & grouping (SURVEY.md
§2.4 A1/A2, §2.3 J3/J4).

The reference builds its PPI adjacency with a Python dict loop over 11.9M
directed pairs in RAM (string_reader.py:112-120, string_processor.py:168) —
the exact thing that OOMs at 100 TB. Here it is one union + one hash
aggregate; Spark's partial (map-side) aggregation keeps the shuffle at
O(distinct keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetric_adjacency(
    edges: DataFrame, src: str = "subj", dst: str = "obj"
) -> DataFrame:
    """A1: undirected edge list -> (node, interactors array<string>), deduped
    and canonically sorted (the reference notes list order affects model
    inference, string_processor.py:86 — array_sort pins it)."""
    sym = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr")).unionByName(
        edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
    )
    return sym.groupBy("node").agg(
        F.array_sort(F.collect_set("nbr")).alias("interactors")
    )


def negative_pairs(
    nodes: DataFrame, positives: DataFrame, n: int, node_col: str = "node", seed: int = 42
) -> DataFrame:
    """J4 at scale: sample-then-anti-join negative generation. NEVER the full
    cartesian (the reference's commented-out combinations() fallback,
    string_processor.py:158-163): draw candidate id pairs from a HASHED node
    id space, anti-join the positive set, take n deterministic.

    Node ids are ``pmod(xxhash64(name), L)`` with L = 4x the node count —
    no dense index, so no global un-partitioned sort (the previous
    row_number() form pulled every node through one reducer). Hash
    collisions are tolerated: a collided id matches >1 node and simply
    yields extra candidates; empty ids yield none — both absorbed by
    drawing 16x more id pairs than needed. Deterministic at any
    parallelism (pure hash functions, no partition-dependent state); the
    only full pass over `nodes` is the bounded count()."""
    n_nodes = max(nodes.count(), 1)
    space = 4 * n_nodes
    n_draw = max(64 * n, 1024)
    hashed = nodes.select(
        F.col(node_col).alias("name"),
        F.pmod(F.xxhash64(node_col, F.lit(seed + 2)), F.lit(space)).alias("rid"),
    )
    cand = (
        nodes.sparkSession.range(n_draw)
        .select(
            F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(space)).alias("ia"),
            F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(space)).alias("ib"),
        )
        .filter(F.col("ia") != F.col("ib"))
        .select(F.least("ia", "ib").alias("ia"), F.greatest("ia", "ib").alias("ib"))
        .distinct()
    )
    # both joins broadcast the bounded side (the draw set, then the bounded
    # first-join result), so the possibly-huge nodes frame only ever streams
    # map-side — zero shuffle, no global sort anywhere
    half = (
        hashed.withColumnRenamed("rid", "ia").withColumnRenamed("name", "subj")
        .join(F.broadcast(cand), "ia")
        .select("subj", "ib")
    )
    named = (
        hashed.withColumnRenamed("rid", "ib").withColumnRenamed("name", "obj")
        .join(F.broadcast(half), "ib")
        .filter(F.col("subj") != F.col("obj"))
        .select(
            F.least("subj", "obj").alias("subj"), F.greatest("subj", "obj").alias("obj")
        )
        .distinct()
    )
    pos_sym = positives.select("subj", "obj").unionByName(
        positives.select(F.col("obj").alias("subj"), F.col("subj").alias("obj"))
    )
    # positives can be arbitrarily large and a left_anti cannot broadcast
    # its left side (planned as a sort-merge join of the whole positive
    # set). Instead: semi-join the positives against the BROADCAST bounded
    # candidate set (positives stream map-side, output <= |candidates|),
    # then anti-join candidates against that bounded hit set — zero
    # shuffles of the positive table (plan asserted in test_edges).
    hits = pos_sym.join(F.broadcast(named), ["subj", "obj"], "left_semi")
    neg = named.join(F.broadcast(hits), ["subj", "obj"], "left_anti")
    return (
        neg.withColumn("__hk", F.md5(F.concat_ws("|", "subj", "obj", F.lit(str(seed)))))
        .orderBy("__hk")
        .limit(n)
        .drop("__hk")
    )
