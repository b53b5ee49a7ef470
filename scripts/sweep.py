"""Every registry query once, full output, traced layer by layer.

    python3 scripts/sweep.py <sf_dir> <out.json>

Run from the repository root; ``sf_dir`` holds the input tables of one
scale factor (``documents.parquet`` and the rest, see TESTDATA.md).  The
session runs on local[<cores>], with ``cores`` the CPUs this process may
use, and has its UI on so that ``perfbench.trace.Tracer`` can read each
query's jobs, stages and SQL executions from Spark's REST API.

Set-up (``setup_s``): session start, every scratch artifact the oracles
read (``queries.ORACLE_ARTIFACTS``) built for ``sf_dir``, then every
``queries.REGISTRY`` row run once untimed, so the timed pass measures warm
plans.  Timed pass: each row once, in registry order, its whole output
written to Spark's ``noop`` sink.  Unlike ``.count()``, the sink lets
Catalyst prune no column, so every expression of the output is evaluated.

The output file holds, per row, the tracer's wall time, task time and its
six-part split (``scan``, ``python``, ``exchange``, ``aggjoin``, ``sink``,
``other``; see ``perfbench/trace.py``), the bytes sent to Python workers,
shuffled, spilled and written, and the task count.  A row that raised is
kept, with its error.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import PARTS  # noqa: E402

FIELDS = (
    "wall_s",
    "task_s",
    *(f"{p}_s" for p in PARTS),
    "py_bytes",
    "shuffle_bytes",
    "spill_bytes",
    "write_bytes",
    "tasks",
)


def run_rows(spark, sf_dir: str, tracer, queries: dict) -> list[dict]:
    """Run each query once under ``tracer`` with its output written to the
    ``noop`` sink, in the order given: one record per query, with its wall
    time and, if it raised, its error."""
    out = []
    for name, fn in queries.items():
        t0 = time.perf_counter()
        error = None
        try:
            tracer.run(
                name,
                lambda fn=fn: fn(spark, sf_dir).write.format("noop").mode("overwrite").save(),
            )
        except Exception as e:  # noqa: BLE001 — a failed row is recorded, not fatal
            traceback.print_exc()
            error = f"{type(e).__name__}: {(str(e).strip().splitlines() or [''])[0][:500]}"
        out.append({"name": name, "wall_s": time.perf_counter() - t0, "error": error})
    return out


def commit() -> str:
    r = subprocess.run(
        ["git", "describe", "--always", "--dirty", "--abbrev=12"],
        cwd=ROOT, capture_output=True, text=True,
    )
    return r.stdout.strip() or "unknown"


def main(sf_dir: str, out_path: str) -> int:
    from bioie_llm_spark import queries
    from perfbench import procmem
    from perfbench.run import start_session
    from perfbench.trace import NullTracer, Tracer

    if not os.path.isfile(os.path.join(sf_dir, "documents.parquet")):
        print(f"no input tables under {sf_dir}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench", f"sweep-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir, cores, ui=True)
        for art in queries.ORACLE_ARTIFACTS:
            art.materialize(spark, sf_dir)
        registry = queries.all_queries()
        run_rows(spark, sf_dir, NullTracer(), registry)
        setup_s = time.perf_counter() - t0

        tracer = Tracer(spark)
        rows = run_rows(spark, sf_dir, tracer, registry)
        for row, call in zip(rows, tracer.harvest()):
            row.update({k: call[k] for k in FIELDS})
        ok = [r for r in rows if r["error"] is None]
        report = {
            "sf_dir": sf_dir,
            "sf": queries.scale_factor(sf_dir),
            "cores": cores,
            "commit": commit(),
            "setup_s": setup_s,
            "total_wall_s": sum(r["wall_s"] for r in ok),
            "n_rows": len(rows),
            "n_failed": len(rows) - len(ok),
            "rows": rows,
        }
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
        print(f"{len(rows)} rows, {report['n_failed']} failed, setup {setup_s:.1f}s, "
              f"total {report['total_wall_s']:.1f}s -> {out_path}")
        return 0
    finally:
        if spark is not None:
            procmem.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__.split("\n\n")[1])
    sys.exit(main(*sys.argv[1:]))
