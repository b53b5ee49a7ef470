"""Scratch artifacts (``bioie_llm_spark/artifacts.py``): write-once roots
keyed on (code, input snapshot), stable aliases for the oracles, the
artifact set ``entry()`` warms, and the ``load_fanout`` rule."""

import importlib.util
import os
import re
import tempfile

from bioie_llm_spark import artifacts as A
from bioie_llm_spark import queries as Q
from bioie_llm_spark.sources.checkpoint import _TMP

SF_DIR = Q._oracle_sf_dir()
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_oracle_text_stable_under_source_edit(monkeypatch):
    """A whitespace-only edit to operators/dedup.py leaves every oracle text
    byte-identical, while exactly the dedup-keyed artifacts get new
    internal roots."""
    arts = (*Q.ORACLE_ARTIFACTS, Q._stream_equiv)
    text = Q.all_oracles()
    roots = {a.name: a.root(SF_DIR) for a in arts}
    path = os.path.join(A._PKG, "operators", "dedup.py")
    monkeypatch.setitem(A._SRC_SNAPSHOT, path, A._SRC_SNAPSHOT[path] + b"\n")
    assert Q.all_oracles() == text
    moved = {a.name for a in arts if a.root(SF_DIR) != roots[a.name]}
    assert moved == {"canon", "mhc", "fuzzy", "stream_equiv"}
    assert moved == {a.name for a in arts if "operators.dedup" in a.modules}


def test_root_keys_what_the_build_computes(monkeypatch):
    """The root key covers the build's own code, the literals it closes over
    and the literal module globals it reads, so an edit to any of them
    never reuses bytes built by the old build."""

    def declare(threshold):
        @A.artifact("t", ("operators.dedup",))
        def build(spark, sf_dir, out):
            return threshold

        return build

    assert declare(0.5).root(SF_DIR) == declare(0.5).root(SF_DIR)
    assert declare(0.5).root(SF_DIR) != declare(0.6).root(SF_DIR)
    root = Q._pack.root(SF_DIR)
    monkeypatch.setattr(Q, "_PACK_MAX_TOKENS", Q._PACK_MAX_TOKENS + 1)
    assert Q._pack.root(SF_DIR) != root
    # module state a build reads (the kg stage memo) is not part of the key
    root = Q._kg.root(SF_DIR)
    monkeypatch.setitem(Q._KG_CACHE, (0, "elsewhere"), {})
    assert Q._kg.root(SF_DIR) == root


def test_entry_warms_exactly_the_artifacts_oracles_read(monkeypatch):
    """entry() warms the artifacts whose aliases the oracle texts read — no
    fewer (an oracle would read a missing or stale path) and no more."""
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    warmed = []
    monkeypatch.setattr(
        A.Artifact,
        "materialize",
        lambda self, spark, sf_dir: warmed.append(os.path.basename(self.alias(sf_dir))),
    )

    class Triples:
        def select(self, *cols):
            return cols

    monkeypatch.setattr(mod, "build_triples", lambda spark, spec: {"triples": Triples()})
    mod.entry(None)
    tmp = re.escape(tempfile.gettempdir())
    read = {
        name
        for sql in Q.all_oracles().values()
        for name in re.findall(tmp + r"/(bioie_[^/']+)/", sql)
    }
    assert read and sorted(warmed) == sorted(read)


def test_materialize_builds_once_and_repoints_alias(monkeypatch, tmp_path):
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    data = tmp_path / "docs"
    data.mkdir()
    table = data / "documents.parquet"
    table.write_bytes(b"v1")
    builds = []

    @A.artifact("t", ("operators.dedup",), ("documents",))
    def art(spark, sf_dir, out):
        builds.append(out)
        os.makedirs(out)
        with open(os.path.join(out, "payload"), "wb") as f:
            f.write(table.read_bytes())

    sf = str(data)
    alias = art.materialize(None, sf)
    label = str(data).strip("/").replace("/", "_") + "_documents"
    assert os.path.basename(alias) == f"bioie_t_{label}"
    assert os.readlink(alias) == art.root(sf)
    assert art.materialize(None, sf) == alias and len(builds) == 1
    # new input bytes: a new root, and the same alias re-pointed at it
    old_root = art.root(sf)
    table.write_bytes(b"v2, longer")
    assert art.root(sf) != old_root
    assert art.materialize(None, sf) == alias and len(builds) == 2
    assert open(os.path.join(alias, "payload"), "rb").read() == b"v2, longer"
    assert not [n for n in os.listdir(scratch) if _TMP in n]
    # a directory without sfX must not share the sf0.01 alias
    assert art.alias(sf) != art.alias(SF_DIR)


def _round_robin_exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(
        "RoundRobinPartitioning"
    )


def test_load_fanout_only_fans_out_a_narrow_scan(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism
    sf = str(tmp_path)
    spark.range(4 * par).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text").repartition(
        2 * par
    ).write.parquet(f"{sf}/documents.parquet")
    wide = Q.load_fanout(spark, sf, "documents")
    assert wide.rdd.getNumPartitions() >= par
    assert _round_robin_exchanges(wide) == 0
    assert _round_robin_exchanges(Q.load_fanout(spark, SF_DIR, "documents")) == 1
