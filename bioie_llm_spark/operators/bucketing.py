"""Bucketed tables: pre-shuffled, co-located joins (the brief's
"repartition/bucketing for co-located joins").

At 100 TB the triple table is joined on `subj` again and again (linking
audits, canonical remaps, graph expansion). Writing it bucketed by the
join key pays the shuffle ONCE at write time; every later equi-join on
that key is exchange-free (SortMergeJoin with both sides pre-bucketed).
Spark buckets require the session catalog (`saveAsTable`), so callers pass
a table name, not a path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..sources.checkpoint import CODEC


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist df as a bucketed (and optionally sorted) managed table,
    compressed with the checkpoint layer's codec."""
    writer = (
        df.write.mode("overwrite")
        .option("compression", CODEC)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def ensure_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> str:
    """Write-once-per-session bucketed sink: skip the (shuffle + write) when
    the session catalog already has the table. Bucket metadata lives in the
    session catalog (in-memory here; a Hive/Iceberg metastore on a real
    cluster), so a fresh session re-registers by rewriting — clearing the
    previous session's orphaned warehouse directory first (the in-memory
    catalog forgets the table but its managed location survives, and CREATE
    refuses an existing location)."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        # a database-qualified name 'db.tbl' lives at <warehouse>/db.db/tbl
        # — EXCEPT the default database, which lives at the warehouse root
        # (<warehouse>/tbl). Resolve accordingly or the stale-dir clear
        # misses and CREATE still fails LOCATION_ALREADY_EXISTS. Unqualified
        # names assume the default DB (this module never switches
        # currentDatabase; qualify the name if you do).
        parts = table.lower().split(".")
        rel = (
            os.path.join(f"{parts[-2]}.db", parts[-1])
            if len(parts) >= 2 and parts[-2] != "default"
            else parts[-1]
        )
        loc = os.path.join(wh, rel)
        if wh and os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
        write_bucketed(df, table, bucket_cols, n_buckets, sort_cols)
    return table


def shuffle_exchange_count(df: DataFrame) -> int:
    """SHUFFLE exchanges only (hash/range partitioning), excluding
    BroadcastExchange — the cost a bucketed layout removes; a broadcast is
    already shuffle-free on the big side."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
