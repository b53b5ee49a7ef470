"""SparkSession factory tuned for this engine.

Local-mode testing stands in for a multi-executor cluster; every setting
here is chosen to survive a 1000-executor / 100 TB deployment:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting) —
  the engine's answer to hot repos / hot predicates (SURVEY.md §4).
- Arrow on, with a bounded batch size so the mock-LLM ``mapInPandas``
  operator sees GPU-sized micro-batches (reference batches 4-64 prompts
  per step, /root/reference/src/run_model.py:403-410).
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from a higher initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow chunk rows for mapInPandas / pandas UDFs. 10k (Spark's own default)
# measured ~9% faster than 256 on the sf1.0 extraction pipeline (fewer
# JVM<->Python round trips, guide §4.2); a real GPU model sets this to its
# serving batch size via the env override.
ARROW_BATCH_ROWS = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"))

# Driver JVM flags: one C1 and one C2 compiler thread (see get_spark).
DRIVER_JAVA_OPTIONS = "-XX:CICompilerCount=2"


def driver_java_options(extra: str | None = None) -> str:
    """``DRIVER_JAVA_OPTIONS`` followed by a caller's own driver flags. The
    JVM takes the last of repeated ``-XX`` flags, so a caller's
    ``-XX:CICompilerCount`` still wins."""
    return f"{DRIVER_JAVA_OPTIONS} {extra}" if extra else DRIVER_JAVA_OPTIONS


def get_spark(
    cores: int | str = "*",
    app_name: str = "bioie_llm_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` maps to ``local[N]``; bench runs this at two parallelism
    levels (local[8] vs local[32]) as the sandbox stand-in for N vs 4N
    executors.

    The driver JVM starts with ``DRIVER_JAVA_OPTIONS``
    (``-XX:CICompilerCount=2``: one C1 and one C2 compiler thread; JDK 17
    picks 3 on 4 cores and more on bigger machines). A pipeline pass from
    a fresh process is mostly JIT work: JFR saw 18.4 s of C2 and 3.0 s of
    C1 compile inside one 10.6 s kg pass. With the flag, on 4 vCPUs, a
    one-pass kg build (perfbench ``--seconds 5``, 10 interleaved pairs)
    used median 34.5 -> 27.2 s CPU (lower in 9/10) and 1837 -> 1678 MB
    peak RSS; warm per-pass wall time stayed flat (5/10 pairs lower).
    Rejected on the same box: ``-XX:TieredStopAtLevel=1`` (C1 only; kg CPU
    about 15 s, but warm wall time +26%), tier-4 thresholds x10 (kg CPU
    -25%, but a warm doc_curation pass 7.07 -> 8.95 s) and
    ``-XX:+UseParallelGC`` (no CPU gain). A caller's
    ``spark.driver.extraJavaOptions`` in ``extra_conf`` is appended after
    the constant (``driver_java_options``). Executor JVMs keep their
    defaults: in local mode tasks run in the driver JVM, and cluster
    executors have not been measured.
    """
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(cores) * 2)
        except (TypeError, ValueError):
            shuffle_partitions = 32
    # Local-mode Python workers inherit the driver PROCESS env, not driver
    # sys.path — ensure they can import this package no matter the cwd the
    # driver was launched from. (Cluster deploys ship package_zip() via
    # spark-submit --py-files instead.)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate copies the generator's child expression
        # into an inferred size(..)>0 filter. For this engine's explodes the
        # generator input is a shingle/chunk expression over text, so the
        # inferred filter re-evaluates the whole normalize+split+shingle
        # chain 2x per row below the projection that would have evaluated it
        # once — measured 21.4s -> 9.5s on the sf1.0 n-gram index with the
        # rule excluded (optimization guide §2.4/§7.2: kill unexpected
        # duplicated subtrees). The rule only ever helps when the inferred
        # filter prunes rows cheaply before a wider op; every Generate in
        # this engine explodes arrays derived from columns already in the
        # row, so it is pure re-computation here.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        # Scan-split size deliberately left at the 128 MB default: the
        # driver tables are single files whose row-group counts (1-6) cap
        # scan parallelism anyway, and an A/B at 16m measured flat-to-worse
        # (empty split tasks add scheduling overhead to the iterative
        # slots). Compute-heavy single-row-group paths fan out explicitly
        # instead (queries.load_fanout).
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    extra_conf = dict(extra_conf or {})
    builder = builder.config(
        "spark.driver.extraJavaOptions",
        driver_java_options(extra_conf.pop("spark.driver.extraJavaOptions", None)),
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def package_zip() -> str:
    """Zip this package for `spark-submit --py-files` / `addPyFile` —
    the cluster-deploy path required by the north_rule. Returns the zip
    path (cached in the system temp dir)."""
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "bioie_llm_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "bioie_llm_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    return out
