"""Registry-level contract the driver harness depends on."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from audit_plans import CARTESIAN_OK  # noqa: E402

from bioie_llm_spark.golden import GOLDEN_QUERIES, HYBRID_PINNED, load_golden
from bioie_llm_spark.queries import REGISTRY


def test_registry_within_driver_coverage_cap():
    """The driver's CORRECTNESS harness checks the FIRST 50 registry
    entries (measured in round 1: exactly registry entries 1-50 got rows,
    66 were registered and the 16 past the cutoff — every kg_* flagship
    query included — went unchecked). Adding query #51 silently removes a
    query from the hard correctness signal; merge instead."""
    assert len(REGISTRY) <= 50


def test_every_query_has_an_oracle():
    missing = [
        name
        for name, (_, sql) in REGISTRY.items()
        if (sql() if callable(sql) else sql) is None
    ]
    assert not missing, f"queries without oracle: {missing}"


def test_kg_flagship_registered_first():
    names = list(REGISTRY)
    assert names[0] == "kg_triples"
    assert all(n.startswith("kg_") for n in names[:10])


def test_golden_file_complete():
    g = load_golden()
    expected = set(GOLDEN_QUERIES) | set(HYBRID_PINNED)
    assert expected <= set(g), sorted(expected - set(g))
    for name in expected:
        assert g[name]["rows"], f"{name}: empty golden rows"
        assert name in REGISTRY
    # hybrid captures hold ONLY the pinned engine-specific columns — a
    # regeneration that silently re-pins computed columns would weaken the
    # oracle back to a full pin
    for name, cols in HYBRID_PINNED.items():
        assert [c for c, _ in g[name]["columns"]] == cols, name


def test_golden_keys_are_pinned_rows():
    """The reverse of test_golden_file_complete: every golden entry belongs
    to a GOLDEN_QUERIES / HYBRID_PINNED row, so a deleted row leaves no
    orphaned key behind."""
    orphans = set(load_golden()) - set(GOLDEN_QUERIES) - set(HYBRID_PINNED)
    assert not orphans, sorted(orphans)


def test_cartesian_allow_list_names_registry_rows():
    """Every CARTESIAN_OK name is a registry row, so removing a row
    cannot leave its plan-audit exemption behind."""
    assert CARTESIAN_OK <= set(REGISTRY), sorted(CARTESIAN_OK - set(REGISTRY))


def test_golden_invariants_hold():
    """Every self-check boolean left the golden file in r5: the last two
    fully-pinned rows (sim_ann_recall, sim_near_dup_lsh) went hybrid, so
    their recall floors and dedup invariants are now oracle-side literal
    `true` (repo convention — an engine-side false flips the driver row
    red via test_oracle_parity) over counts the DuckDB oracle recomputes
    from materialized parquet. What remains pinned is engine-specific
    only (hashes, LSH recall digests); this test pins THAT property: no
    boolean column may reappear in a hybrid capture."""
    g = load_golden()
    for name in HYBRID_PINNED:
        for c, dtype in g[name]["columns"]:
            assert dtype != "boolean", (
                f"{name}: pinned boolean column {c} — recompute it or "
                "expect literal true on the oracle side instead"
            )
    # kg_triple_pr / kg_hot_predicates left the golden file in round 4:
    # their oracles are COMPUTED, with the invariant booleans written as
    # literal `true` on the oracle side (pass_precision/pass_recall,
    # salted_eq_ok, skew_bound_ok) — an engine-side false flips the driver
    # row red via test_oracle_parity; the numeric columns are recomputed
    # from parquet. The >= 0.95 floor itself is additionally hard-asserted
    # in test_pipeline.
    # the four scored tasks went hybrid in r5: every metric value is
    # recomputed by the DuckDB oracle from the materialized pairs parquet
    # (recompute_ok expected literal true on the oracle side); only
    # pairs_hash — pinning the task's output multiset — stays captured.
    # kg_canonicalize and dd_fuzzy_dedup went hybrid in r5: closed_ok/
    # idempotent_ok and keeper_is_min_ok/clusters_eq_keepers are now
    # RECOMPUTED by the DuckDB oracle from materialized parquet (closure_ok
    # stays an engine-side check the oracle expects literal true).
