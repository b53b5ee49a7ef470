"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship KG-construction pipeline (corpus -> mock-LLM
  extraction -> gazetteer linking -> triple table) at sf0.001 scale.
- ``queries()``: operator registry (SURVEY.md §2) over the driver's parquet
  tables, plus KG-pipeline queries over the deterministic synthetic corpus.
- ``oracle_sql()``: DuckDB twins for every SQL-expressible query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bioie_llm_spark import queries as Q
from bioie_llm_spark.datagen.corpus import CorpusSpec
from bioie_llm_spark.pipeline import build_triples


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full triple-extraction pipeline at smoke scale; returns the
    linked, deduped (subj, pred, obj) triple table.

    Also warms every artifact the oracles read (``Q.ORACLE_ARTIFACTS``;
    write-once, a few seconds warm) at the oracle sf and points its stable
    alias at it: the computed oracles read that parquet, and the driver
    smoke-runs entry() before the correctness loop — so the files exist no
    matter in which order the harness evaluates a query's Spark and oracle
    sides. The sf comes from the same SPARK_GRAFT_ORACLE_SF resolution the
    oracles use (ADVICE r4: a hardcoded sf0.01 here warmed the wrong root
    under the override)."""
    for art in Q.ORACLE_ARTIFACTS:
        art.materialize(spark, Q._oracle_sf_dir())
    stages = build_triples(spark, CorpusSpec.for_scale(0.001))
    return stages["triples"].select(
        "subj", "pred", "obj", "n_sources", "source_sha256"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return Q.all_queries()


def oracle_sql() -> dict[str, str]:
    return Q.all_oracles()
