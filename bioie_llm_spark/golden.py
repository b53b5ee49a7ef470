"""Golden-literal oracles for deterministic-but-not-SQL-expressible queries.

The KG-pipeline queries (mock-LLM extraction, xxhash64-keyed LSH/ANN checks)
cannot be recomputed by DuckDB — but every one of them is bit-deterministic
at any parallelism (datagen and extraction are hash-keyed expression code;
see datagen/corpus.py docstring and scripts/check_determinism.py). So their
oracle is a PINNED GOLDEN RESULT: the exact rows the query produced at
sf0.01, committed as ``golden/sf0_01.json`` and rendered into a constant
``VALUES`` SQL that DuckDB evaluates trivially. The driver's side-by-side
compare then asserts the engine still reproduces those rows bit-for-bit —
a regression pin exactly as hard as a computed oracle, because the values
can only match if the whole pipeline (corpus -> extraction -> linking ->
dedup -> scoring) is unchanged AND parallelism-independent.

Regenerate after any intentional semantics change with::

    python scripts/gen_golden.py

Drift without regeneration fails tests/test_oracle_parity.py (and the
driver's CORRECTNESS gate) — golden values cannot silently rot.
"""

from __future__ import annotations

import json
import os
from functools import lru_cache

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden", "sf0_01.json")

# every registry query whose oracle is a FULLY pinned golden result
# (kg_funnel / kg_lineage / kg_triple_pr left this list in round 4: their
# oracles are now COMPUTED — DuckDB re-aggregates the lineage / triples /
# facts parquet the pipeline wrote; kg_triples / kg_canonicalize /
# dd_minhash_simhash_check left in round 5 for HYBRID_PINNED below)
# Fully-pinned golden queries: NONE since r5 — every registry row is
# either SQL-computed or hybrid (counts and invariants recomputed by the
# DuckDB oracle from materialized parquet; only engine-specific hashes
# and LSH-recall-style digests pinned, listed in HYBRID_PINNED below).
GOLDEN_QUERIES: list[str] = []

# HYBRID queries (VERDICT r4 #6): only the engine-specific columns — the
# xxhash64 content hashes and the LSH-recall numbers no other engine can
# recompute — are pinned; every count, closure boolean, and expected-pair
# cardinality is COMPUTED by the DuckDB oracle from materialized parquet
# or the driver tables. gen_golden captures exactly these columns.
HYBRID_PINNED: dict[str, list[str]] = {
    "kg_entity_task": ["pairs_hash"],
    "kg_relation_task": ["pairs_hash"],
    "kg_relation_type_task": ["pairs_hash"],
    "kg_kegg_entity_task": ["pairs_hash"],
    "kg_triples": ["content_hash"],
    "kg_canonicalize": ["map_hash", "triples_hash"],
    "dd_minhash_simhash_check": ["method", "cand_hash"],
    "dd_fuzzy_dedup": ["assign_hash"],
    "sim_ann_recall": ["method", "ann_hash"],
    "sim_near_dup_lsh": ["lsh_hash", "sd_hash"],
}

_SQL_TYPES = {
    "long": "BIGINT",
    "bigint": "BIGINT",
    "int": "INTEGER",
    "integer": "INTEGER",
    "short": "SMALLINT",
    "double": "DOUBLE",
    "float": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
}


@lru_cache(maxsize=1)
def load_golden() -> dict:
    if not os.path.exists(GOLDEN_PATH):
        return {}
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def _lit(v, sql_type: str) -> str:
    if v is None:
        return f"CAST(NULL AS {sql_type})"
    if sql_type == "VARCHAR":
        escaped = str(v).replace("'", "''")
        return f"'{escaped}'"
    if sql_type == "BOOLEAN":
        return "true" if v else "false"
    return f"CAST({v!r} AS {sql_type})"


def golden_sql(name: str) -> str | None:
    """Constant VALUES oracle for a pinned query, or None if not yet
    generated (first run of gen_golden.py bootstraps with sql=None)."""
    g = load_golden().get(name)
    if not g:
        return None
    cols = g["columns"]  # [[name, spark_dtype], ...]
    names = ", ".join(c for c, _ in cols)
    types = [_SQL_TYPES[t] for _, t in cols]
    rows_sql = ",\n      ".join(
        "(" + ", ".join(_lit(v, t) for v, t in zip(row, types)) + ")"
        for row in g["rows"]
    )
    return f"SELECT * FROM (VALUES\n      {rows_sql}\n    ) AS g({names})"


def capture(df) -> dict:
    """Snapshot a DataFrame's schema + rows for the golden file (used by
    scripts/gen_golden.py). Only scalar column types are supported — golden
    queries must pre-stringify arrays and pre-round doubles. Non-finite
    floats are rejected HERE, where the golden file is produced: json would
    serialize NaN/Infinity happily but _lit cannot render them as SQL
    literals, so the invariant is enforced at capture time."""
    import math

    cols = [[f.name, f.dataType.simpleString()] for f in df.schema]
    for _, t in cols:
        if t not in _SQL_TYPES:
            raise TypeError(f"golden capture: unsupported column type {t}")
    rows = [[r[c] for c, _ in cols] for r in df.collect()]
    for row in rows:
        for v, (c, t) in zip(row, cols):
            if t in ("double", "float") and v is not None and not math.isfinite(v):
                raise ValueError(f"golden capture: non-finite {c}={v!r}")
    return {"columns": cols, "rows": rows}
