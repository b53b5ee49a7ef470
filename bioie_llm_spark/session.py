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

import atexit
import hashlib
import os
import shutil
import subprocess
import uuid
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Arrow chunk rows for mapInPandas / pandas UDFs. 10k (Spark's own default)
# measured ~9% faster than 256 on the sf1.0 extraction pipeline (fewer
# JVM<->Python round trips, guide §4.2); a real GPU model sets this to its
# serving batch size via the env override.
ARROW_BATCH_ROWS = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"))

# Driver JVM flags: one C1 and one C2 compiler thread (see get_spark).
DRIVER_JAVA_OPTIONS = "-XX:CICompilerCount=2"


# Set with every CDS flag: the JVM prints its CDS warnings at exit, after a
# caller's last stdout line (perfbench's JSON result), unless they go to
# stderr.
CDS_LOG_OPTIONS = "-Xlog:disable -Xlog:all=warning:stderr"


def driver_java_options(extra: str | None = None, cds: str = "") -> str:
    """``DRIVER_JAVA_OPTIONS``, then the session's CDS flags, then a
    caller's own driver flags. The JVM takes the last of repeated ``-XX``
    flags, so a caller's ``-XX:CICompilerCount`` still wins."""
    return " ".join(o for o in (DRIVER_JAVA_OPTIONS, cds, extra) if o)


def java_binary(env=os.environ) -> str | None:
    """The java that ``bin/spark-class`` runs: ``$JAVA_HOME/bin/java``,
    else the first java on ``PATH``; resolved through symlinks."""
    java_home = env.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java", path=env.get("PATH"))
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def cds_key(java: str, jars_dir: str) -> str:
    """Archive key: what the JVM validates before mapping an archive — the
    java binary, and the name, size and mtime of every Spark jar. The
    checkout path and the heap size stay out, so one archive serves every
    checkout and driver memory."""
    h = hashlib.sha256()
    for path in [java] + [os.path.join(jars_dir, n) for n in sorted(os.listdir(jars_dir))]:
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def cds_conf_dir(spark_home: str, cache: str, env=os.environ) -> str | None:
    """The ``SPARK_CONF_DIR`` a CDS session starts with, or None to leave
    CDS off. Spark's launcher puts the conf directory on the classpath, and
    JDK 17 maps no application class while a non-empty directory is there.
    A conf directory that is absent or holds only ``*.template`` files
    (which Spark never reads) is swapped for an empty one in the cache; a
    directory with a real file in it keeps CDS off."""
    conf = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
        return None
    empty = os.path.join(cache, "conf")
    os.makedirs(empty, exist_ok=True)
    return None if os.listdir(empty) else empty


class CdsPlan(NamedTuple):
    """How one driver JVM uses the CDS archive: ``flags`` for its command
    line, ``conf_dir`` for ``SPARK_CONF_DIR``, and ``part`` — the file it
    dumps to at exit when ``archive`` does not exist yet (else None)."""

    flags: str
    conf_dir: str
    archive: str
    part: str | None


def cds_plan(spark_home: str, env=os.environ) -> CdsPlan | None:
    """Map ``<cache>/<key>.jsa`` when it exists, else dump a ``.part`` file
    that ``publish_archive`` renames into place. None (CDS off, the JVM
    starts as without it) when the cache is unwritable, no java or jars
    directory is found, or the conf directory holds a real file."""
    java = java_binary(env)
    if java is None:
        return None
    # outside any checkout, so every checkout on one box shares the archive
    base = env.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    cache = os.path.join(base, "bioie_llm_spark", "cds")
    try:
        key = cds_key(java, os.path.join(spark_home, "jars"))
        conf_dir = cds_conf_dir(spark_home, cache, env)
    except OSError:
        return None
    if conf_dir is None or not os.access(cache, os.W_OK):
        return None
    archive = os.path.join(cache, f"{key}.jsa")
    if os.path.isfile(archive):
        return CdsPlan(f"-XX:SharedArchiveFile={archive} {CDS_LOG_OPTIONS}", conf_dir, archive, None)
    part = f"{archive}.{uuid.uuid4().hex}.part"
    return CdsPlan(f"-XX:ArchiveClassesAtExit={part} {CDS_LOG_OPTIONS}", conf_dir, archive, part)


def publish_archive(proc, part: str, archive: str) -> bool:
    """End the driver JVM (close its stdin, as pyspark's gateway expects)
    and wait while it dumps ``part``. Rename ``part`` to ``archive`` only
    if the JVM exited 0 and wrote it: a truncated archive at the final path
    would crash the next JVM. Otherwise remove it; a JVM still running
    after two minutes keeps its ``.part`` file, which no session reads."""
    if proc.stdin:
        proc.stdin.close()
    try:
        code = proc.wait(120)
    except subprocess.TimeoutExpired:
        return False
    if code == 0 and os.path.isfile(part):
        os.replace(part, archive)
        return True
    try:
        os.remove(part)
    except FileNotFoundError:
        pass
    return False


def get_spark(
    cores: int | str = "*",
    app_name: str = "bioie_llm_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` maps to ``local[N]`` (local mode stands in for N executors).

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

    A session that launches the driver JVM starts it from a dynamic AppCDS
    archive (``cds_plan``): ``-XX:SharedArchiveFile`` when the archive for
    this java binary and Spark jar set exists, else
    ``-XX:ArchiveClassesAtExit`` to a ``.part`` file that an ``atexit``
    hook (``publish_archive``) moves into place once the JVM has exited 0.
    JFR put about 2.4 of the 8.0 compile-seconds of one cold doc_curation
    pass on class loading, lambda spinning and the JDK's ASM. On 4 vCPUs
    (perfbench ``--seconds 5``, 10 interleaved pairs per workload) the
    archive cut kg ``setup_s`` 8.91 -> 6.33 s and doc_curation's
    7.34 -> 4.85 s, 10/10 each (the session start itself 2.57 -> 1.27 s),
    with ``cpu_s`` and peak RSS flat. The first session per key pays about
    2.2 s more set-up and 5-6 s more at JVM exit for the dump. CDS stays
    off, and the JVM starts as without it, when the cache is unwritable or
    the conf directory holds a real file (``cds_conf_dir``).
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
    # CDS flags only matter to a JVM this call launches
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    plan = cds_plan(_find_spark_home()) if launching else None
    if plan:
        os.environ["SPARK_CONF_DIR"] = plan.conf_dir
    extra_conf = dict(extra_conf or {})
    builder = builder.config(
        "spark.driver.extraJavaOptions",
        driver_java_options(
            extra_conf.pop("spark.driver.extraJavaOptions", None), plan.flags if plan else ""
        ),
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if plan and plan.part:
        sc, proc = spark.sparkContext, spark.sparkContext._gateway.proc

        def stop_and_publish():
            # a context still running when its JVM exits makes pyspark's
            # accumulator server print an EOFError traceback
            if SparkContext._active_spark_context is sc:
                sc.stop()
            publish_archive(proc, plan.part, plan.archive)

        atexit.register(stop_and_publish)
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
