"""Per-layer figures of a traced run.

The traced Runner JVM reports one row of layer counters per timed query
(`perfbench/src/main/scala/perfbench/Trace.scala`). This module sums them per
workload, adds the figures only the harness knows (scratch bytes, the
MapReduce split, tracing overhead), runs the self-checks, and writes the rows
to `.work/trace/<workload>-seed<seed>-s<seconds>.jsonl`.

Self-checks: for every query `scheduler.job_wall_s + driver.outside_jobs_s`
equals its wall time and neither part is negative; the streaming triggers of
a query fit inside its wall time; and the deterministic counters equal those
of the previous traced run of the same workload, seed and length. A counter
that differs is named on stderr; a broken sum fails the run.
"""
import json
import os
import sys

# per-query layer counters summed over the run (the JVM's names)
SUMMED = {
    "operators.build_s": "s", "operators.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.queries": "count",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.task_overhead_s": "s", "scheduler.job_wall_s": "s",
    "driver.outside_jobs_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.spill_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s",
    "sources.scan_mb": "MB", "sources.scan_records": "count",
    "sources.artifact_rebuilds": "count", "sources.catalog_cmds": "count", "sources.catalog_s": "s",
    "streaming.batches": "count", "streaming.empty_batches": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s", "streaming.offsets_s": "s",
    "streaming.wal_commit_s": "s", "streaming.state_commit_s": "s", "streaming.state_rows": "count",
    "streaming.outside_batches_s": "s",
}
UNITS = dict(SUMMED, **{
    "executor.busy_frac": "ratio", "executor.peak_exec_mb": "MB",
    "sources.scratch_mb": "MB",
    "mr.holistic_s": "s", "mr.declarative_s": "s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "trace.overhead_frac": "ratio",
})
DETERMINISTIC = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks",
                 "sources.artifact_rebuilds", "codegen.compiles", "shuffle.records",
                 "streaming.batches"]


def self_check(rows):
    errors = []
    for q in rows:
        lay, wall = q["layers"], q["latency_s"]
        parts = lay["scheduler.job_wall_s"] + lay["driver.outside_jobs_s"]
        if abs(parts - wall) > 1e-9 or lay["scheduler.job_wall_s"] < 0 or lay["driver.outside_jobs_s"] < 0:
            errors.append(f"{q['name']}: job_wall {lay['scheduler.job_wall_s']:.4f} + outside "
                          f"{lay['driver.outside_jobs_s']:.4f} != wall {wall:.4f}")
        if lay["streaming.trigger_s"] > wall + 1e-3:
            errors.append(f"{q['name']}: streaming.trigger_s {lay['streaming.trigger_s']:.4f} > wall {wall:.4f}")
    return errors


def repeat_check(path, rows):
    """Deterministic counters per query, compared with the previous file."""
    now = [{k: q["layers"][k] for k in DETERMINISTIC} | {"name": q["name"]} for q in rows]
    differs = set()
    if os.path.exists(path):
        with open(path) as fh:
            before = [json.loads(ln)["counters"] for ln in fh if ln.strip()]
        if len(before) != len(now):
            differs.add("query list")
        for a, b in zip(before, now):
            differs |= {k for k in DETERMINISTIC if a.get(k) != b[k]}
    return now, sorted(differs)


def per_layer(args, report, untraced_wall, info, work, cpus):
    rows = report["queries"]
    errors = self_check(rows)
    if errors:
        raise RuntimeError("trace self-check failed:\n" + "\n".join(errors))
    wall = sum(q["latency_s"] + q["isolate_s"] for q in rows)
    m = {k: sum(q["layers"][k] for q in rows) for k in SUMMED}
    m["executor.busy_frac"] = m["executor.run_s"] / (wall * cpus)
    m["executor.peak_exec_mb"] = max(q["layers"]["executor.peak_exec_mb"] for q in rows)
    m["sources.scratch_mb"] = report["scratch_mb"]
    m["mr.holistic_s"] = sum(q["latency_s"] for q in rows if q["name"] in ("mr_wc", "mr_ii"))
    m["mr.declarative_s"] = sum(q["latency_s"] for q in rows if q["name"] in ("wc", "ii"))
    m["jvm.gc_s"] = report["trace"]["jvm.gc_s"]
    m["jvm.heap_peak_mb"] = report["trace"]["jvm.heap_peak_mb"]
    m["trace.overhead_frac"] = (wall - untraced_wall) / untraced_wall

    out_dir = os.path.join(work, "trace")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-s{args.seconds}.jsonl")
    counters, differs = repeat_check(path, rows)
    if differs:
        print(f"[perfbench] counters that did not repeat across traced runs: {', '.join(differs)}",
              file=sys.stderr)
    with open(path, "w") as fh:
        for q, c in zip(rows, counters):
            fh.write(json.dumps({"i": q["i"], "query": q["name"], "wall_s": q["latency_s"],
                                 "layers": q["layers"], "counters": c}) + "\n")
    with open(path[:-len(".jsonl")] + "-run.json", "w") as fh:
        json.dump({"metrics": m, "not_repeated": differs, "info": info,
                   "unattributed_tasks": report["trace"]["unattributed_tasks"]}, fh, indent=1)
    return {k: m[k] for k in UNITS}
