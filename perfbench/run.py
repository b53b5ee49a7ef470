"""Benchmark runner: one closed-loop client on local[<cores>].

    python3 perfbench/run.py --workload kg --seed 1 --seconds 30 --trace 0

Run from the repository root.  A run sets up once, cold, in a fresh JVM
with a fresh ``TMPDIR``: session start, seeded inputs and write-once
artifacts; that time is ``setup_s``.  Then it runs one pass after another
from a cold JVM, each on a fresh output root, until ``--seconds`` have
passed, and reports the median pass's wall time (``wall_s``) and CPU time
of the driver, the JVM and its Python workers (``cpu_s``).  The first
pass gets the workload's semantic checks, and every later pass must
reproduce its output digests.

With ``--trace 1`` the session has its UI on and every pass is traced;
the run reports the per-layer metrics (see ``layers.py``) and the tracing
overhead, traced ``wall_s`` less the median ``wall_s`` of the untraced
runs of the workload made before in the same checkout, and writes the
per-call detail to ``.perfbench/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before
it print every metric of the run by name and unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the end-to-end metrics of the JSON line: those every workload has and
# that stay steady on a shared machine, where a pass's wall time can swing
# 1.5x between minutes while its CPU time moves about a tenth
END_TO_END = ("setup_s", "cpu_s", "peak_rss_mb", "out_bytes_per_in_byte")
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(run_dir: str, cores: int, ui: bool):
    from bioie_llm_spark.session import get_spark

    # every JVM the session starts (spark-submit's launcher too) keeps its
    # temporary files inside the run directory
    jvm_tmp = os.path.join(run_dir, "jvm-tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ui:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    os.makedirs(jvm_tmp, exist_ok=True)
    return get_spark(cores=cores, app_name="perfbench", extra_conf=conf)


def fresh_tmpdir(path: str) -> str:
    """Point TMPDIR (and ``tempfile``) at a new empty directory: the
    registry's write-once artifacts land there and are rebuilt."""
    os.makedirs(path)
    os.environ["TMPDIR"] = path
    tempfile.tempdir = None
    return path


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """The q-quantile of ``xs`` by linear interpolation."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


class Stats:
    """What the passes of a run measured."""

    def __init__(self):
        self.walls, self.cpus, self.phases, self.snapshots, self.out_ratio, self.calls = [], [], [], [], [], []
        self.attempted = self.failed = 0
        self.reference: dict | None = None


def measure(spark, wl, tracer, run_dir, tmp, seconds, stats, mem, jvm_pid):
    """Closed loop: passes one after another until ``seconds`` have passed.
    The first pass gets the workload's checks and its digests become the
    reference every later pass must reproduce."""
    from perfbench import procmem, workloads

    deadline = time.perf_counter() + seconds
    while True:
        stats.attempted += 1
        out = os.path.join(run_dir, f"pass{stats.attempted}-{os.getpid()}")
        wl.before_pass(out)
        tmp_before = set(os.listdir(tmp))
        try:
            c = procmem.cpu_seconds(jvm_pid)
            t = time.perf_counter()
            res = wl.run_pass(spark, tracer, out)
            dt = time.perf_counter() - t
            cpu = procmem.cpu_seconds(jvm_pid) - c
            got = {**res.forced, **{k: workloads.digest(v) for k, v in res.written.items()}}
            if stats.reference is None:
                stats.reference = got
                bad = wl.check(spark, res)
            else:
                bad = [k for k in stats.reference if got.get(k) != stats.reference[k]]
            bad += wl.consistency(got)
            if set(os.listdir(tmp)) != tmp_before:
                bad.append("an artifact directory appeared during the timed pass")
            if res.out_bytes <= 0:
                bad.append("the pass wrote no bytes")
            wl.after_pass(spark, res)
        except Exception:
            log(f"pass {stats.attempted} raised:\n{traceback.format_exc()}")
            bad = ["exception"]
        pass_calls = tracer.harvest() if tracer.enabled else None
        if bad:
            stats.failed += 1
            log(f"pass {stats.attempted} FAILED: {bad}")
        else:
            stats.walls.append(dt)
            stats.cpus.append(cpu)
            stats.phases.append(res.phases)
            stats.snapshots += res.snapshots
            stats.calls.append(pass_calls)
            stats.out_ratio.append(res.out_bytes / wl.size()["in_bytes"])
        mem.sample(jvm_pid)
        shutil.rmtree(out, ignore_errors=True)
        if time.perf_counter() >= deadline:
            break


def run(args) -> int:
    import pyspark  # noqa: F401  (interpreter imports stay out of setup_s)

    from perfbench import layers, procmem, workloads
    from perfbench.trace import NullTracer, Tracer

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    mem = procmem.PeakRss()
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload]()
        # set-up, once per run and cold: session start (with the JVM launch),
        # seeded inputs and write-once artifacts
        tmp = fresh_tmpdir(os.path.join(run_dir, "tmp"))
        t0 = time.perf_counter()
        spark = start_session(run_dir, cores, ui=args.trace == 1)
        tp = time.perf_counter()
        wl.prepare(spark, os.path.join(run_dir, "setup"), args.seed)
        setup_s = time.perf_counter() - t0
        setup = {"session_s": tp - t0, "inputs_s": wl.inputs_s, "artifact_s": wl.artifact_s}
        log(f"setup: {setup_s:.3f}s (session {tp - t0:.3f}s, inputs {wl.inputs_s:.3f}s, "
            f"artifacts {wl.artifact_s:.3f}s)")
        mem.sample(procmem.jvm_pid(spark))

        stats = Stats()
        tracer = Tracer(spark) if args.trace else NullTracer()
        measure(spark, wl, tracer, run_dir, tmp, args.seconds, stats, mem, procmem.jvm_pid(spark))
        log(f"passes: {[round(w, 3) for w in stats.walls]}")
        if not args.trace:
            log("calls: " + ", ".join(f"{k} {[round(x, 2) for x in v]}" for k, v in tracer.walls.items()))

        size = wl.size()
        wall_s = median(stats.walls)
        report = {
            "setup_s": (setup_s, "s", 1),
            "wall_s": (wall_s, "s", len(stats.walls)),
            "cpu_s": (median(stats.cpus), "s", len(stats.cpus)),
            "peak_rss_mb": (mem.peak_mb(), "MB", 1),
            "fail_frac": (stats.failed / stats.attempted, "ratio", stats.attempted),
        }
        for k in stats.phases[0] if stats.phases else ():
            report[k] = (median([p[k] for p in stats.phases]), "s", len(stats.phases))
        if "build_s" in report:
            report["files_per_s"] = (size["files"] / report["build_s"][0], "1/s", len(stats.phases))
        if stats.snapshots:
            n = len(stats.snapshots)
            report["snapshot_p50_s"] = (quantile(stats.snapshots, 0.5), "s", n)
            report["snapshot_p90_s"] = (quantile(stats.snapshots, 0.9), "s", n)
        report["out_bytes_per_in_byte"] = (median(stats.out_ratio), "ratio", len(stats.out_ratio))
        print(f"workload {args.workload} seed {args.seed} cores {cores} trace {args.trace} size {json.dumps(size)}")
        for name, (v, unit, n) in report.items():
            print(f"{name:<32} {v:>14.6g} {unit:<6} n={n}")

        # untraced runs leave their wall_s behind so a traced run can report
        # the tracing overhead against the median of them
        history = os.path.join(ROOT, ".perfbench", f"untraced-wall-{args.workload}.json")
        walls = json.load(open(history)) if os.path.exists(history) else []
        if args.trace:
            named, common = layers.per_layer(wl, stats.calls, stats.walls, cores, setup=setup, reference=stats.reference)
            extra = {}
            if walls:
                extra["trace.overhead_s"] = {"value": wall_s - median(walls), "unit": "s", "n_untraced": len(walls)}
            for name, m in {**named, **common, **extra}.items():
                print(f"{name:<56} {m['value']:>14.6g} {m['unit']}")
            if not walls:
                print("trace.overhead_s: no untraced run of this workload in this checkout yet")
            with open(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(
                    {"workload": args.workload, "size": size, "end_to_end": report,
                     "per_layer": {**named, **common, **extra}, "per_call": layers.per_call(stats.calls)},
                    f, indent=1,
                )
            metrics = common
        else:
            if stats.walls:
                with open(history, "w") as f:
                    json.dump(walls + [wall_s], f)
            metrics = {k: {"value": report[k][0], "unit": report[k][1]} for k in END_TO_END}
        correct = stats.failed == 0 and bool(stats.walls)
        print(json.dumps({"correct": correct, "attempted": stats.attempted, "failed": stats.failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            procmem.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "bioie_llm_spark", "__init__.py")):
        log(f"no bioie_llm_spark package under {ROOT}; run from a checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
