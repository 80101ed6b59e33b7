#!/usr/bin/env python3
"""Regenerate perfbench/pool.json: the query pools the sampled workloads draw
from, each query with its implementing module and its measured cost.

    python3 perfbench/make_pool.py

Reads the query names and their implementing objects from
`src/main/scala/graft/SparkEntry.scala`, runs every pool query once at sf0.1
in one Runner JVM per pool (after the usual warmup; the persisted artifacts
are dropped after each query, so each pays its own first-touch builds, as in
a run), checks each result
against the oracle and records its latency as `cost_s`. The costs only
steer the sampler (strata and run length); they are not compared with
anything. A query above MAX_COST_S, or whose oracle cannot run at sf0.1
within ORACLE_BUDGET_S, is left out and listed under "notes"; a query whose
result differs from its oracle stays in. It also writes `oracle_digests.json`, the oracle
digests of every pool query at sf0.1, so runs need no DuckDB for sf0.1.
Rerun it when queries are added or removed, in a change of its own.
"""
import json
import os
import re
import sys

import oracle
import run

# SparkEntry objects folded into the strata the workloads are stratified by.
STRATUM = {
    "Relational": "Relational", "Skew": "Relational",
    "Analytics": "Analytics", "Ranking": "Ranking",
    "Dedup": "Dedup", "IncrementalDedup": "Dedup",
    "Similarity": "Similarity",
    "TextAnalysis": "TextAnalysis", "Bpe": "TextAnalysis", "CoreQueries": "TextAnalysis",
    "Pipeline": "Pipeline",
    "Media": "multimodal", "MediaIndex": "multimodal",
    "Formats": "sources.Formats",
    "EventStreams": "EventStreams",
    "MapReduce": "MapReduce",
}
MR_QUERIES = {"wc", "ii", "mr_wc", "mr_ii"}
# Left out of the pool, and listed under "excluded" with the reason: a query
# measured above MAX_COST_S, which would be most of a run on its own, and a
# query whose DuckDB oracle needs longer than ORACLE_BUDGET_S at sf0.1, which
# no run could check.
MAX_COST_S = 3.0
ORACLE_BUDGET_S = 60


def modules():
    src = open(os.path.join(run.ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")).read()
    body = src[src.index("def queries"):src.index("def oracleSql")]
    starts = [(m.start(), m.group(1)) for m in re.finditer(r'^    "(\w+)"\s*->', body, re.M)]
    out = {}
    for k, (pos, name) in enumerate(starts):
        entry = body[pos:starts[k + 1][0] if k + 1 < len(starts) else len(body)]
        m = re.search(r"\b(" + "|".join(STRATUM) + r")\.\w+\(", entry)
        if not m:
            sys.exit(f"no implementing object found for {name}")
        out[name] = STRATUM[m.group(1)]
    return out


def profile(classpath, names, data_dir, runs):
    """Run every query once in one Runner JVM, artifacts dropped between
    queries; returns the runner report."""
    plan = {"cpus": run.CPUS, "warm_dir": run.dataset("sf0.001"), "warm": ["wc"],
            "queries": [{"name": n, "dir": data_dir} for n in names], "reset_between": True}
    jvm = run.Jvm(classpath, plan, runs.new())
    try:
        return jvm.report(timeout=3000)
    finally:
        jvm.kill()


def classify(report, data_dir):
    """Oracle every profiled query. Returns (cost per query, oracle digests,
    {query: mismatch}, {query: why it is left out of the pool})."""
    dataset_key = f"sf0.1:{run._dataset_stamp(data_dir)}"
    cost, digests, mismatched, excluded = {}, {}, {}, {}
    for q in report["queries"]:
        name, sql = q["name"], report["oracle_sql"].get(q["name"])
        cost[name] = round(q["latency_s"], 3)
        if cost[name] > MAX_COST_S:
            excluded[name] = f"cost {cost[name]} s > {MAX_COST_S} s"
            continue
        try:
            if sql is None:
                raise oracle.Unavailable("no oracle SQL")
            digests[oracle.key(dataset_key, sql)] = oracle.digest(
                oracle.expected(sql, dataset_key, data_dir, run.WORK, timeout_s=ORACLE_BUDGET_S))
        except oracle.Unavailable as e:
            excluded[name] = f"oracle unavailable at sf0.1: {e}"
            continue
        err = q.get("error") or oracle.compare(os.path.join(report["out_dir"], "results", str(q["i"])),
                                               sql, dataset_key, data_dir, run.WORK)
        if err:
            mismatched[name] = err
    return cost, digests, mismatched, excluded


def main():
    classpath = run.build()
    mods = modules()
    data_dir = run.dataset("sf0.1")
    runs = run.Runs()
    pools, notes, digests = {}, {}, {}
    try:
        for pool, names in (
                ("stream", sorted(n for n in mods if n.startswith("stream_"))),
                ("batch", sorted(n for n in mods if not n.startswith("stream_") and n not in MR_QUERIES))):
            cost, dig, mismatched, excluded = classify(profile(classpath, names, data_dir, runs), data_dir)
            digests.update(dig)
            notes[pool] = {"oracle_mismatch": mismatched, "excluded": excluded}
            pools[pool] = [{"name": n, "module": mods[n], "cost_s": cost[n]}
                           for n in names if n not in excluded]
    finally:
        runs.close()
    write(pools, notes, digests)


def write(pools, notes, digests):
    with open(os.path.join(run.HERE, "pool.json"), "w") as fh:
        json.dump(dict(pools, notes=notes), fh, indent=1)
        fh.write("\n")
    with open(os.path.join(run.HERE, "oracle_digests.json"), "w") as fh:
        json.dump(dict(sorted(digests.items())), fh, indent=0)
        fh.write("\n")
    print(json.dumps({p: {"queries": len(v), "cost_s": round(sum(q["cost_s"] for q in v), 1),
                          "excluded": len(notes[p]["excluded"]), "oracle_mismatch": notes[p]["oracle_mismatch"]}
                      for p, v in pools.items()}, indent=1))


if __name__ == "__main__":
    main()
