"""Canonicalization: normalize, Jaccard blocking, connected components."""

from pyspark.sql import functions as F

from bioie_llm_spark.operators.canonical import (
    canonicalize_entities,
    canonicalize_triples,
    char_ngrams,
    connected_components,
    jaccard_pairs,
    normalize_name,
)


def test_normalize(spark):
    df = spark.createDataFrame(
        [("PSD-95",), ("psd 95",), ("Psd_95",), ("TP53",)], "name string"
    )
    got = [r["n"] for r in df.select(normalize_name(F.col("name")).alias("n")).collect()]
    assert got == ["PSD95", "PSD95", "PSD95", "TP53"]


def test_char_ngrams(spark):
    df = spark.createDataFrame([("AKT1",), ("AB",)], "name string")
    got = {r["name"]: r["g"] for r in df.select("name", char_ngrams(F.col("name")).alias("g")).collect()}
    assert sorted(got["AKT1"]) == ["AKT", "KT1"]
    assert got["AB"] == ["AB"]  # shorter than n: one truncated gram


def test_jaccard_pairs(spark):
    names = spark.createDataFrame(
        [("TP53",), ("P53",), ("EB1",), ("RHEB",)], "name string"
    )
    pairs = {(r["name_a"], r["name_b"]): r["jaccard"] for r in jaccard_pairs(names).collect()}
    # TP53 grams {TP5, P53}; P53 grams {P53} -> jaccard 1/2
    assert pairs.get(("P53", "TP53")) == 0.5
    assert not any("EB1" in k for k in pairs)


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "src string, dst string"
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_connected_components_reads_edges_once(spark):
    """The edge input is evaluated once per call — the node set and the
    edge set come from one checkpoint — so an expensive edge plan (an
    all-pairs join) is not re-run per use. Self-loop-only nodes stay."""
    acc = spark.sparkContext.accumulator(0)

    def count_read(x):
        acc.add(1)
        return x

    read = F.udf(count_read, "string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")], "src string, dst string"
    ).select(read("src").alias("src"), "dst")
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}
    assert acc.value == 4


def test_connected_components_long_chain(spark):
    """Propagation must cross a 9-hop chain (iteration count exercised)."""
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(9)], "src string, dst string"
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(comp.values()) == {"n0"}


def test_canonicalize_entities_variants(spark):
    names = spark.createDataFrame(
        [("PSD-95",), ("psd95",), ("PSD 95",), ("AKT",), ("EB1",)], "name string"
    )
    m = {r["name"]: r["canonical_id"] for r in canonicalize_entities(names).collect()}
    assert m["PSD-95"] == m["psd95"] == m["PSD 95"]
    assert m["AKT"] != m["EB1"]


def test_canonicalize_triples(spark):
    triples = spark.createDataFrame(
        [("psd95", "interacts_with", "AKT", "sha1")],
        "subj string, pred string, obj string, source_sha256 string",
    )
    mapping = spark.createDataFrame(
        [("psd95", "PSD-95"), ("AKT", "AKT")], "name string, canonical_id string"
    )
    row = canonicalize_triples(triples, mapping).first()
    assert row["subj"] == "PSD-95" and row["obj"] == "AKT"
    assert row["pred"] == "interacts_with" and row["source_sha256"] == "sha1"


class TestConnectedComponentsProperty:
    """VERDICT r5 #7: adversarial random graphs (union of cliques, chains
    and stars) against a python union-find twin, at two parallelism
    levels — guards the one driver-side convergence loop in the engine."""

    import hypothesis.strategies as _st
    from hypothesis import HealthCheck, given, settings

    piece_st = _st.lists(
        _st.tuples(
            _st.sampled_from(["clique", "chain", "star"]),
            _st.lists(
                _st.integers(min_value=0, max_value=39),
                min_size=2,
                max_size=6,
                unique=True,
            ),
        ),
        min_size=1,
        max_size=5,
    )

    @staticmethod
    def _edges_of(pieces):
        edges = []
        for kind, nodes in pieces:
            if kind == "clique":
                edges.extend(
                    (a, b) for i, a in enumerate(nodes) for b in nodes[i + 1 :]
                )
            elif kind == "chain":
                edges.extend(zip(nodes, nodes[1:]))
            else:  # star
                edges.extend((nodes[0], n) for n in nodes[1:])
        return edges

    @staticmethod
    def _union_find(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical label = min node of the component
        return {n: find(n) for n in parent}

    @settings(
        max_examples=12, deadline=None, suppress_health_check=list(HealthCheck)
    )
    @given(piece_st)
    def test_labels_match_union_find_at_two_parallelisms(self, spark, pieces):
        from bioie_llm_spark.operators.canonical import connected_components

        edges = self._edges_of(pieces)
        expected = self._union_find(edges)
        df = spark.createDataFrame(
            [(f"n{a:02d}", f"n{b:02d}") for a, b in edges], "src string, dst string"
        )
        want = {f"n{k:02d}": f"n{v:02d}" for k, v in expected.items()}
        for parts in (2, 8):
            got = {
                r["node"]: r["component"]
                for r in connected_components(df.repartition(parts)).collect()
            }
            assert got == want
