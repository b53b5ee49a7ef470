"""Deterministic, partition-stable sampling & ordering (SURVEY.md §2.5).

The reference gets reproducibility from `random.seed(42)` + sort-before-
sample (string_processor.py:152,180). Spark's `rand()` is partition-
DEPENDENT, so the engine replaces every random draw with orderings on a
seeded hash of the row key: identical output at local[1]/local[8]/local[32]
and on a 1000-executor cluster — the property the scaling benchmark and
sha256 assertions rely on.

Two hash families:
- ``xxhash64`` (JVM intrinsic, fastest) for engine-internal paths;
- ``md5``-hex ordering for paths that must be reproducible in the DuckDB
  oracle (`md5` is bit-identical across Spark and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SEED = 42


def hash_order_key(cols: list[str | Column], seed: int = SEED) -> Column:
    """Portable deterministic sort key: md5 over the concatenated key+seed."""
    parts = [F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols]
    return F.md5(F.concat_ws("|", *parts, F.lit(str(seed))))


def seeded_sample(df: DataFrame, key_cols: list[str], n: int, seed: int = SEED) -> DataFrame:
    """T2: deterministic 'random' sample of n rows — order by seeded hash of
    the key, take n. Replaces `random.sample(sorted(pool), n)`
    (string_processor.py:105). Requires key_cols to be unique per row."""
    return (
        df.withColumn("__hk", hash_order_key(key_cols, seed))
        .orderBy("__hk")
        .limit(n)
        .drop("__hk")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_cols: list[str],
    n_per_stratum: int,
    seed: int = SEED,
    rank_col: str | None = None,
) -> DataFrame:
    """T4: n rows per stratum, hash-ordered within stratum (the reference's
    per-rel_type `random.sample`, indra_processor.py:147-149). Single window
    shuffle on the stratum key. ``rank_col`` keeps the within-stratum rank
    under that name — callers needing it must not recompute the window
    (the two copies would have to stay bit-identical forever)."""
    w = Window.partitionBy(strata_col).orderBy(hash_order_key(key_cols, seed))
    out = df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= n_per_stratum
    )
    return (
        out.withColumnRenamed("__rn", rank_col) if rank_col else out.drop("__rn")
    )


def top_k(df: DataFrame, order_cols: list[str | Column], k: int) -> DataFrame:
    """T3/T7: global top-k via orderBy+limit (Spark executes this as a
    per-partition TakeOrdered + driver merge — no full sort at scale).
    Pass `F.col(...).desc()` entries for descending keys."""
    return df.orderBy(*order_cols).limit(k)
