"""operators/graph: fixed-point PageRank vs an integer python twin —
bit-equality on hypothesis-generated graphs and across partitionings,
plus rank-mass conservation up to floor-division truncation."""

from __future__ import annotations

import re
from collections import defaultdict

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bioie_llm_spark.operators.canonical import connected_components
from bioie_llm_spark.operators.graph import pagerank_fixed_point, symmetrize

SCALE = 10**12


def _py_pagerank(edge_list, iterations=10, scale=SCALE):
    sym = set()
    for u, v in edge_list:
        if u != v:
            sym.add((u, v))
            sym.add((v, u))
    if not sym:
        return {}
    adj = defaultdict(list)
    deg = defaultdict(int)
    for u, v in sym:
        adj[u].append(v)
        deg[u] += 1
    nodes = sorted(deg)
    n = len(nodes)
    r = {u: scale // n for u in nodes}
    base = (scale // n) * 15 // 100
    for _ in range(iterations):
        agg = defaultdict(int)
        for u in nodes:
            c = r[u] // deg[u]
            for v in adj[u]:
                agg[v] += c
        r = {v: base + (85 * s) // 100 for v, s in agg.items()}
    return r


edges_strategy = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=40
).filter(lambda es: any(u != v for u, v in es))


def _spark_ranks(spark, edge_list, partitions=None, iterations=10):
    df = spark.createDataFrame(edge_list, ["src", "dst"])
    if partitions:
        df = df.repartition(partitions)
    rows = pagerank_fixed_point(df, iterations=iterations, scale=SCALE).collect()
    return {r["node"]: r["rank_int"] for r in rows}


class TestPagerankFixedPoint:
    def test_symmetrize_dedups_and_drops_self_loops(self, spark):
        df = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 2), (3, 3)], ["src", "dst"]
        )
        got = sorted(tuple(r) for r in symmetrize(df).collect())
        assert got == [(1, 2), (2, 1)]

    def test_triangle_plus_pendant(self, spark):
        # pendant node 3 hangs off a triangle: hub 0 must outrank it
        edges = [(0, 1), (1, 2), (2, 0), (0, 3)]
        got = _spark_ranks(spark, edges)
        assert got == _py_pagerank(edges)
        assert got[0] > got[3]

    def test_rank_mass_conserved_up_to_truncation(self, spark):
        edges = [(i, (i + 1) % 8) for i in range(8)]
        got = _spark_ranks(spark, edges)
        total = sum(got.values())
        # each floor division loses < 1 unit per node per iteration
        assert SCALE * 0.999 <= total <= SCALE

    @settings(max_examples=10, deadline=None)
    @given(edges=edges_strategy)
    def test_matches_python_twin(self, spark, edges):
        assert _spark_ranks(spark, edges) == _py_pagerank(edges)

    def test_partitioning_invariance_bit_exact(self, spark):
        edges = [(i % 7, (i * 3 + 1) % 7) for i in range(20) if i % 7 != (i * 3 + 1) % 7]
        a = _spark_ranks(spark, edges, partitions=1)
        b = _spark_ranks(spark, edges, partitions=8)
        assert a == b


class _LoopBreak(Exception):
    pass


@pytest.mark.parametrize("fn", [connected_components, pagerank_fixed_point])
def test_iterative_loops_leave_session_shuffle_conf_alone(spark, monkeypatch, fn):
    """Queries on the same session while the CC / PageRank loop runs, and
    after it raises, keep the session's shuffle partition count: the loops
    size their shuffles with explicit repartitions, not a conf change."""
    key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(key)
    # distinct from the loops' floor of 8, so a leaked loop size shows
    spark.conf.set(key, "13")

    def probe_parts() -> set[int]:
        q = spark.range(64).groupBy((F.col("id") % 5).alias("k")).count()
        plan = q._jdf.queryExecution().executedPlan().toString()
        return {int(n) for n in re.findall(r"Exchange hashpartitioning\(.*, (\d+)\)", plan)}

    seen = []
    frame_cls = type(spark.range(1))
    real = frame_cls.localCheckpoint

    def checkpoint_and_probe(self, *a, **k):
        seen.append(probe_parts())
        if len(seen) == 5:
            raise _LoopBreak  # the loop dies mid-round
        return real(self, *a, **k)

    try:
        monkeypatch.setattr(frame_cls, "localCheckpoint", checkpoint_and_probe)
        edges = spark.range(40).select(
            F.col("id").alias("src"), ((F.col("id") * 7 + 1) % 40).alias("dst")
        )
        with pytest.raises(_LoopBreak):
            fn(edges, "src", "dst")
        monkeypatch.undo()
        assert seen == [{13}] * 5
        assert spark.conf.get(key) == "13" and probe_parts() == {13}
    finally:
        spark.conf.set(key, orig)


def test_pagerank_empty_edges_returns_empty(spark):
    """An empty or all-self-loop edge set yields an empty (node, rank_int)
    frame, not ZeroDivisionError."""
    empty = spark.createDataFrame([("a", "a")], "src string, dst string")
    assert pagerank_fixed_point(empty).count() == 0
