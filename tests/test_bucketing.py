"""Bucketed co-located joins: the write-once shuffle pays off as
exchange-free equi-joins."""

import pytest
from pyspark.sql import functions as F

from bioie_llm_spark.operators.bucketing import shuffle_exchange_count, write_bucketed


@pytest.fixture(scope="module")
def bucketed_tables(spark, tiny_spec):
    from bioie_llm_spark.datagen.corpus import build_facts
    from bioie_llm_spark.operators.adjacency import symmetric_adjacency

    facts = build_facts(spark, tiny_spec)
    adj = symmetric_adjacency(facts.filter(F.col("pred") == "interacts_with"))
    write_bucketed(facts.withColumnRenamed("subj", "node"), "t_facts_b", ["node"], 8)
    write_bucketed(adj, "t_adj_b", ["node"], 8)
    yield "t_facts_b", "t_adj_b"
    spark.sql("DROP TABLE IF EXISTS t_facts_b")
    spark.sql("DROP TABLE IF EXISTS t_adj_b")


def test_bucketed_join_no_exchange(spark, bucketed_tables):
    lt, rt = bucketed_tables
    # force SMJ so the exchange-elision (not broadcast) is what's tested
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(lt).join(spark.table(rt), "node")
        n_ex = shuffle_exchange_count(j)
        assert n_ex == 0, f"bucketed join should be exchange-free, saw {n_ex}"
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_unbucketed_join_has_exchanges(spark, bucketed_tables, tiny_spec):
    """Control: the same join on plain frames shuffles both sides."""
    from bioie_llm_spark.datagen.corpus import build_facts
    from bioie_llm_spark.operators.adjacency import symmetric_adjacency

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        facts = build_facts(spark, tiny_spec).withColumnRenamed("subj", "node")
        adj = symmetric_adjacency(
            build_facts(spark, tiny_spec).filter(F.col("pred") == "interacts_with")
        )
        j = facts.join(adj, "node")
        assert shuffle_exchange_count(j) >= 2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_flagship_bucketed_sink_colocated_remap(spark, tiny_spec, tmp_path):
    """VERDICT r2 #6: the flagship sink writes the triple table bucketed by
    subj alongside the pred-partitioned parquet, and the canonical remap's
    subj join over (bucketed triples) x (bucketed mapping) is EXCHANGE-FREE
    — the only remaining shuffle is the obj remap of the intermediate.
    Results must match the broadcast canonicalize_triples bit-for-bit."""
    from bioie_llm_spark.operators.bucketing import ensure_bucketed_table
    from bioie_llm_spark.operators.canonical import (
        canonicalize_entities,
        canonicalize_triples,
        canonicalize_triples_colocated,
    )
    from bioie_llm_spark.pipeline import build_triples

    stages = build_triples(spark, tiny_spec, out_dir=str(tmp_path / "kg"))
    t_table = stages["triples_bucketed_table"]
    assert spark.catalog.tableExists(t_table)

    triples = stages["triples"]
    names = (
        triples.select(F.col("subj").alias("name"))
        .unionByName(triples.select(F.col("obj").alias("name")))
        .distinct()
    )
    mapping = canonicalize_entities(names)
    m_table = ensure_bucketed_table(mapping, "t_mapping_b", ["name"], 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        remapped = canonicalize_triples_colocated(spark, t_table, m_table).select(
            "subj", "pred", "obj"
        )
        n_shuffles = shuffle_exchange_count(remapped)
        # subj join exchange-free; only the obj remap of the intermediate
        # shuffles (plus nothing else)
        assert n_shuffles == 1, f"expected 1 shuffle (obj side), saw {n_shuffles}"

        # control: the same two joins on the PLAIN parquet (no broadcast,
        # no buckets) shuffle the triple side for subj AND obj
        m_s = mapping.select(F.col("name").alias("subj"), F.col("canonical_id").alias("sc"))
        m_o = mapping.select(F.col("name").alias("obj"), F.col("canonical_id").alias("oc"))
        control = (
            triples.join(m_s, "subj", "left")
            .join(m_o, "obj", "left")
            .select(
                F.coalesce("sc", F.col("subj")).alias("subj"),
                "pred",
                F.coalesce("oc", F.col("obj")).alias("obj"),
            )
        )
        assert shuffle_exchange_count(control) >= 3  # 2x triples + mapping sides

        # values must match the broadcast canonicalize_triples exactly
        expect = canonicalize_triples(
            triples.select("subj", "pred", "obj"), mapping
        ).select("subj", "pred", "obj")
        assert sorted(map(tuple, remapped.collect())) == sorted(
            map(tuple, expect.collect())
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_mapping_b")


def test_bucketed_sink_keyed_on_snapshot_and_params(spark, tiny_spec, tmp_path):
    """ADVICE r3 #1: rebuilding the SAME out_dir with a different snapshot or
    miss/hallu params must not silently reuse the previous build's bucketed
    triples — the table name is keyed on (out_dir, snapshot, params), so each
    build registers (and writes) its own table."""
    from bioie_llm_spark.pipeline import build_triples

    out = str(tmp_path / "kg")
    s1 = build_triples(spark, tiny_spec, out_dir=out, snapshot="snap-000")
    s2 = build_triples(
        spark, tiny_spec, out_dir=out, snapshot="snap-001", miss_per_mille=500
    )
    t1, t2 = s1["triples_bucketed_table"], s2["triples_bucketed_table"]
    try:
        assert t1 != t2, "different snapshot/params must map to a new table"
        n1 = spark.table(t1).count()
        n2 = spark.table(t2).count()
        # miss_per_mille=500 drops ~half the extractions — the second build's
        # bucketed table must reflect ITS content, not the first build's
        assert n2 < n1
        assert n2 == s2["triples"].count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_ensure_bucketed_db_qualified_orphan_cleanup(spark, tiny_spec):
    """ADVICE r3 #2: a database-qualified table 'db.tbl' lives at
    <warehouse>/db.db/tbl; the orphan-location clear must resolve that path
    (not <warehouse>/db.tbl) or CREATE fails LOCATION_ALREADY_EXISTS."""
    import os
    from urllib.parse import urlparse

    from bioie_llm_spark.datagen.corpus import build_facts
    from bioie_llm_spark.operators.bucketing import ensure_bucketed_table

    facts = build_facts(spark, tiny_spec)
    spark.sql("CREATE DATABASE IF NOT EXISTS tdb_orph")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, "tdb_orph.db", "t_orphan")
    try:
        # simulate a previous session's leftover managed dir with the
        # catalog having forgotten the table
        os.makedirs(loc, exist_ok=True)
        with open(os.path.join(loc, "stale.parquet"), "w") as f:
            f.write("stale")
        assert not spark.catalog.tableExists("tdb_orph.t_orphan")
        ensure_bucketed_table(facts, "tdb_orph.t_orphan", ["subj"], 4)
        assert spark.table("tdb_orph.t_orphan").count() == facts.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS tdb_orph.t_orphan")
        spark.sql("DROP DATABASE IF EXISTS tdb_orph")


def test_bucketed_results_match_plain(spark, bucketed_tables, tiny_spec):
    from bioie_llm_spark.datagen.corpus import build_facts
    from bioie_llm_spark.operators.adjacency import symmetric_adjacency

    lt, rt = bucketed_tables
    j = spark.table(lt).join(spark.table(rt), "node").select("node", "pred", "obj")
    facts = build_facts(spark, tiny_spec).withColumnRenamed("subj", "node")
    adj = symmetric_adjacency(
        build_facts(spark, tiny_spec).filter(F.col("pred") == "interacts_with")
    )
    plain = facts.join(adj, "node").select("node", "pred", "obj")
    assert sorted(map(tuple, j.collect())) == sorted(map(tuple, plain.collect()))


def test_ensure_bucketed_default_db_orphan_cleanup(spark, tiny_spec):
    """The default database's managed tables live at the WAREHOUSE ROOT
    (<warehouse>/tbl, not <warehouse>/default.db/tbl) — the orphan clear
    must resolve that or default-qualified names still fail CREATE."""
    import os
    from urllib.parse import urlparse

    from bioie_llm_spark.datagen.corpus import build_facts
    from bioie_llm_spark.operators.bucketing import ensure_bucketed_table

    facts = build_facts(spark, tiny_spec)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, "t_orphan_default")
    try:
        os.makedirs(loc, exist_ok=True)
        with open(os.path.join(loc, "stale.parquet"), "w") as f:
            f.write("stale")
        assert not spark.catalog.tableExists("default.t_orphan_default")
        ensure_bucketed_table(facts, "default.t_orphan_default", ["subj"], 4)
        assert spark.table("t_orphan_default").count() == facts.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS default.t_orphan_default")
