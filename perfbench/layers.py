"""Per-layer metrics of a traced run, named ``<module>.<function>.<measure>``.

Each traced pass is a list of call records (see ``trace.py``): one per
public call the workload made, each with the SQL executions it ran.  A
call's lazy inputs run inside the execution that first needs them, so a
layer that only builds a plan is measured on the execution that evaluates
it: ``extraction.extract_triples`` is the execution that writes the raw
stage, ``pipeline.dedup`` the one that writes the triple table.
``sources.materialize.s`` is the checkpoint layer's own share of its calls
(lineage, listing, rename and read-back): call wall time less the
execution that evaluates the stage.

Every value is the median over the traced passes of the per-pass value.
``per_layer`` returns two dicts: the named metrics of the layers the
workload calls, and the metrics every workload has (the five-part split
of task time and Spark's totals), which the runner's JSON line carries.
"""

from __future__ import annotations

import statistics

from .trace import PARTS

MATERIALIZED = ("raw", "linked", "triples")
_TOTALS = {
    "tasks": "count",
    "tasks_failed": "count",
    "gc_s": "s",
    "py_bytes": "bytes",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "write_bytes": "bytes",
}


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _calls(pass_calls, name):
    return [c for c in pass_calls if c["name"] == name]


def _execs(calls, label):
    return [e for c in calls for e in c["execs"] if e["label"] == label]


def _stage_exec(pass_calls, stage) -> dict:
    """The execution that writes a materialized stage's data."""
    return _execs(_calls(pass_calls, f"sources.materialize[{stage}]"), stage)[0]


def _kg(calls, cores, wl, ref) -> dict:
    out: dict[str, tuple[list, str]] = {}

    def put(name, unit, fn):
        out[name] = ([fn(pc) for pc in calls], unit)

    raw = lambda pc: _stage_exec(pc, "raw")  # noqa: E731
    put("extraction.extract_triples.s", "s", lambda pc: raw(pc)["duration_s"])
    put("extraction.extract_triples.rows", "count", lambda pc: ref["raw"][0])
    put("extraction.extract_triples.util", "ratio",
        lambda pc: raw(pc)["task_s"] / (raw(pc)["duration_s"] * cores))
    put("extraction.extract_triples.py_bytes", "bytes", lambda pc: sum(raw(pc)["py_bytes"].values()))
    put("extraction.link_entities.s", "s", lambda pc: _stage_exec(pc, "linked")["duration_s"])
    put("extraction.link_entities.rows", "count", lambda pc: ref["linked"][0])
    put("extraction.link_entities.yield", "ratio", lambda pc: ref["linked"][0] / ref["raw"][0])
    dedup = lambda pc: _stage_exec(pc, "triples")  # noqa: E731
    put("pipeline.dedup.s", "s", lambda pc: dedup(pc)["duration_s"])
    put("pipeline.dedup.shuffle_bytes", "bytes", lambda pc: dedup(pc)["shuffle_bytes"])
    put("pipeline.dedup.spill_bytes", "bytes", lambda pc: dedup(pc)["spill_bytes"])
    mat = lambda pc: [c for s in MATERIALIZED for c in _calls(pc, f"sources.materialize[{s}]")]  # noqa: E731
    put("sources.materialize.s", "s",
        lambda pc: sum(c["wall_s"] for c in mat(pc)) - sum(_stage_exec(pc, s)["duration_s"] for s in MATERIALIZED))
    put("sources.materialize.write_bytes", "bytes", lambda pc: sum(c["write_bytes"] for c in mat(pc)))
    put("sources.lineage.s", "s",
        lambda pc: sum(e["duration_s"] for c in pc for e in c["execs"] if e["label"].startswith("_lineage:")))
    bucket = lambda pc: _calls(pc, "operators.bucketing.ensure_bucketed_table")[0]  # noqa: E731
    put("operators.bucketing.ensure_bucketed_table.s", "s", lambda pc: bucket(pc)["wall_s"])
    put("operators.bucketing.ensure_bucketed_table.write_bytes", "bytes", lambda pc: bucket(pc)["write_bytes"])
    for t in wl.tasks:
        put(f"pipeline.{t}.s", "s", lambda pc, t=t: _calls(pc, f"pipeline.{t}")[0]["wall_s"])
    tasks = lambda pc: [c for t in wl.tasks for c in _calls(pc, f"pipeline.{t}")]  # noqa: E731
    put("extraction.mock_generate.py_bytes", "bytes",
        lambda pc: sum(e["py_bytes"].get("MapInPandas", 0) for c in tasks(pc) for e in c["execs"]))
    put("functions.cleaning.match_mentions_udf.py_bytes", "bytes",
        lambda pc: sum(e["py_bytes"].get("ArrowEvalPython", 0) for c in tasks(pc) for e in c["execs"]))
    put("operators.adjacency.symmetric_adjacency.shuffle_bytes", "bytes",
        lambda pc: _calls(pc, "operators.adjacency.symmetric_adjacency")[0]["shuffle_bytes"])
    # per arriving snapshot: resume_by_key is everything the call ran but
    # the materialization of the snapshot's triple table
    snaps = [c for pc in calls for c in _calls(pc, "pipeline.incremental_triples")]
    out["pipeline.incremental_triples.s"] = ([c["wall_s"] for c in snaps], "s")
    out["sources.resume_by_key.s"] = (
        [c["wall_s"] - sum(e["duration_s"] for e in c["execs"] if e["label"] in ("triples", "_lineage:triples"))
         for c in snaps],
        "s",
    )
    out["sources.resume_by_key.yield"] = ([wl.key_yield()], "ratio")
    return out


def _docs(calls, cores, wl, ref) -> dict:
    out: dict[str, tuple[list, str]] = {}
    for slot in wl.slots:
        cs = [_calls(pc, f"queries.{slot}")[0] for pc in calls]
        out[f"queries.{slot}.s"] = ([c["wall_s"] for c in cs], "s")
        out[f"queries.{slot}.rows"] = ([ref[slot][0]], "count")
        out[f"queries.{slot}.util"] = ([c["util"] for c in cs], "ratio")
        out[f"queries.{slot}.shuffle_bytes"] = ([c["shuffle_bytes"] for c in cs], "bytes")
        out[f"queries.{slot}.spill_bytes"] = ([c["spill_bytes"] for c in cs], "bytes")
    out["operators.dedup.minhash_lsh_candidates.s"] = (
        [_calls(pc, "operators.dedup.minhash_lsh_candidates")[0]["wall_s"] for pc in calls], "s")
    pack = [_calls(pc, "operators.curation.pack_sequences")[0] for pc in calls]
    out["operators.curation.pack_sequences.s"] = ([c["wall_s"] for c in pack], "s")
    out["operators.curation.pack_sequences.py_bytes"] = ([c["py_bytes"] for c in pack], "bytes")
    return out


def per_layer(wl, calls, walls, cores, setup, reference) -> tuple[dict, dict]:
    named = (_kg if wl.name == "kg" else _docs)(calls, cores, wl, reference)
    if wl.name == "doc_curation":
        named["queries.materialize_once.s"] = ([setup["artifact_s"]], "s")
    named = {k: {"value": _med(v), "unit": u} for k, (v, u) in named.items()}

    per_pass = []
    for pass_calls, wall in zip(calls, walls):
        sums = {k: sum(c[k] for c in pass_calls) for k in [f"{p}_s" for p in PARTS] + list(_TOTALS)}
        sums["util"] = sum(c["task_s"] for c in pass_calls) / (wall * cores)
        per_pass.append(sums)
    common = {f"split.{p}_s": {"value": _med([s[f"{p}_s"] for s in per_pass]), "unit": "s"} for p in PARTS}
    for k, unit in {**_TOTALS, "util": "ratio"}.items():
        common[f"spark.{k}"] = {"value": _med([s[k] for s in per_pass]), "unit": unit}
    common["session.get_spark.s"] = {"value": setup["session_s"], "unit": "s"}
    common["setup.inputs_s"] = {"value": setup["inputs_s"], "unit": "s"}
    common["setup.artifacts_s"] = {"value": setup["artifact_s"], "unit": "s"}
    common["trace.wall_s"] = {"value": _med(walls), "unit": "s"}
    return named, common


def per_call(calls) -> dict:
    """Median of each call's totals over passes, with its executions'
    durations by label, keyed by call name."""
    by_name: dict[str, list[dict]] = {}
    for pass_calls in calls:
        for c in pass_calls:
            by_name.setdefault(c["name"], []).append(c)
    out = {}
    for name, rows in by_name.items():
        row = {k: _med([r[k] for r in rows]) for k in rows[0] if k not in ("name", "execs")}
        labels = sorted({e["label"] for r in rows for e in r["execs"]})
        row["execs_s"] = {
            lb: _med([sum(e["duration_s"] for e in r["execs"] if e["label"] == lb) for r in rows])
            for lb in labels
        }
        out[name] = row
    return out
