"""scripts/sweep.py: every row is timed on its full output, and a row that
raises is recorded with its error instead of being dropped."""

import importlib.util
import os

from pyspark.sql import functions as F

from bioie_llm_spark import queries
from perfbench.trace import NullTracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


def _sweep():
    spec = importlib.util.spec_from_file_location("sweep", os.path.join(ROOT, "scripts", "sweep.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_run_rows_times_full_output_and_keeps_failures(spark):
    name = next(iter(queries.REGISTRY))

    def stub(spark, sf_dir):
        # the second column raises only when it is evaluated: a .count()
        # prunes it, the noop sink does not
        return spark.range(3).select("id", F.raise_error(F.lit("boom")).alias("bad"))

    tracer = NullTracer()
    rows = _sweep().run_rows(
        spark, SF_DIR, tracer, {name: queries.REGISTRY[name][0], "stub": stub}
    )
    assert [r["name"] for r in rows] == [name, "stub"]
    assert rows[0]["error"] is None and rows[0]["wall_s"] > 0
    assert tracer.walls[name] and tracer.walls["stub"]
    assert rows[1]["error"] is not None and "boom" in rows[1]["error"]
    assert stub(spark, SF_DIR).count() == 3
