#!/usr/bin/env python3
"""The repository benchmark: cold-JVM workloads over the engine as a library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the runner (`perfbench/build.sbt`) once per source
state, makes the workload's inputs (the seed generates the mr_corpus
corpus), starts fresh JVMs
(`perfbench.Runner`) in fresh scratch directories, checks every timed result
against the DuckDB oracle (`SparkEntry.oracleSql`) and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones from a
traced JVM, and the per-query layer rows go to `perfbench/.work/trace/`.
Workloads, metrics and their definitions: perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import oracle
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = 4
HEAP = "2g"
JVM_TIMEOUT_S = 75
SETUP_SAMPLES = 3          # JVMs set up together per run: the timed one and set-up-only ones
TAIL_PERCENTILE = 75       # query_tail_s; see README for the sample counts

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = {
    "wall_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "corpus_mb_per_s": "MB/s", "setup_s": "s", "peak_rss_mb": "MB",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + runner with sbt; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise BenchError("engine sources not found next to perfbench/")
    stamp = _source_stamp()
    cache = os.path.join(WORK, "build", "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c["stamp"] == stamp:
            return c["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building engine and runner with sbt")
    out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                    "export Runtime/fullClasspath"], cwd=HERE, env=env, timeout=840,
                   capture=True)
    lines = [ln for ln in out.splitlines() if "perfbench" in ln and "classes" in ln and ":" in ln]
    if not lines:
        raise BenchError("sbt build failed:\n" + out[-4000:])
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip()


# ---------------------------------------------------------------- processes

class Proc:
    """A child in its own process group. `wait` kills the group on timeout
    or interrupt; `kill` ends it if it still runs. Both wait for it to end."""

    def __init__(self, cmd, cwd, env, capture=False, stderr_path=None):
        self.cmd, self.stderr_path = cmd, stderr_path
        self.err = open(stderr_path, "w") if stderr_path else None
        self.p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE if capture else subprocess.DEVNULL,
                                  stderr=self.err or (subprocess.STDOUT if capture else subprocess.DEVNULL),
                                  stdin=subprocess.DEVNULL, start_new_session=True, text=True)

    def wait(self, timeout):
        try:
            out, _ = self.p.communicate(timeout=timeout)
        except BaseException:
            self.kill()
            raise
        finally:
            if self.err:
                self.err.close()
        if self.p.returncode != 0:
            tail = ""
            if self.stderr_path and os.path.exists(self.stderr_path):
                with open(self.stderr_path, errors="replace") as fh:
                    tail = fh.read()[-3000:]
            raise BenchError(f"{self.cmd[0]} exited {self.p.returncode}\n{(out or '')[-3000:]}{tail}")
        return out

    def kill(self):
        if self.p.returncode is None:
            try:
                os.killpg(self.p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.p.wait()
        if self.err:
            self.err.close()


def run_proc(cmd, cwd, env, timeout, capture=False):
    return Proc(cmd, cwd, env, capture=capture).wait(timeout)


# ---------------------------------------------------------------- data

def testdata_dir():
    return os.environ.get("GRAFT_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))


def dataset(name):
    d = os.path.join(testdata_dir(), name)
    if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        raise BenchError(f"test data {d} not found (set GRAFT_TESTDATA)")
    return d


def corpus(seed):
    """The seeded corpus, generated once per seed under .work/corpus/."""
    import corpus as gen
    d = os.path.join(WORK, "corpus", f"seed{seed}-{hashlib.sha1(json.dumps(gen.PARAMS, sort_keys=True).encode()).hexdigest()[:8]}")
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(manifest) as fh:
        return d, json.load(fh)


def _systematic(items, k, rng):
    """k of `items` (sorted by cost), one from each of k equal-width strata."""
    step = len(items) / k
    u = rng.random() * step
    return [items[int(u + j * step)] for j in range(k)]


def sample(pool, seconds, rng, candidates=400):
    """A sample of the pool whose estimated cost (`cost_s` summed) is
    `seconds`.

    Stratified by module (at least one query each, the rest proportional to
    module size), systematic over cost order within a module. Of `candidates`
    such draws the one whose estimated total, median and tail cost come
    closest to `seconds` and to the pool's own median and tail is kept."""
    cost = {q["name"]: q["cost_s"] for q in pool}
    ref = (percentile(cost.values(), 50), percentile(cost.values(), TAIL_PERCENTILE))
    by_mod = {}
    for q in sorted(pool, key=lambda q: (q["cost_s"], q["name"])):
        by_mod.setdefault(q["module"], []).append(q["name"])
    k = max(len(by_mod), round(len(pool) * seconds / sum(cost.values())))
    quotas = {m: 1 + len(qs) * (k - len(by_mod)) / len(pool) for m, qs in by_mod.items()}
    alloc = {m: int(x) for m, x in quotas.items()}
    for m in sorted(quotas, key=lambda m: (alloc[m] - quotas[m], m))[:k - sum(alloc.values())]:
        alloc[m] += 1
    best = None
    for _ in range(candidates):
        picked = [n for m in sorted(by_mod) for n in _systematic(by_mod[m], alloc[m], rng)]
        c = [cost[n] for n in picked]
        score = abs(sum(c) / seconds - 1) + abs(percentile(c, 50) / ref[0] - 1) \
            + abs(percentile(c, TAIL_PERCENTILE) / ref[1] - 1)
        if best is None or score < best[0]:
            best = (score, picked)
    return best[1]


def make_plan(workload, spec, seed, seconds):
    """(queries as (name, dir), dataset key, input MB, info) for one run."""
    if workload == "mr_corpus":
        d, manifest = corpus(seed)
        passes = max(1, round(seconds / spec["pass_cost_s"]))
        return [(n, d) for _ in range(passes) for n in spec["queries"]], \
            f"corpus:{os.path.basename(d)}", manifest["text_mb"], {"passes": passes, "corpus": manifest}
    with open(os.path.join(HERE, "pool.json")) as fh:
        pools = json.load(fh)
    pool = [q for p in spec["pools"] for q in pools[p]]
    d = dataset(spec["dataset"])
    # Drawn once per run length and run in draw order, not per seed: on a
    # 10-query run, samples drawn per seed spread the end-to-end metrics by
    # 20-40% across seeds, and seeded orders of one sample by 13-26%, wider
    # than any bound (perfbench/README.md, "Steadiness").
    names = sample(pool, seconds / spec["cold_factor"], random.Random(f"{workload}:sample"))
    mb = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)) / 1e6
    return [(n, d) for n in names], f"{spec['dataset']}:{_dataset_stamp(d)}", mb, {}


def _dataset_stamp(d):
    h = hashlib.sha1()
    for f in sorted(os.listdir(d)):
        h.update(f"{f}:{os.path.getsize(os.path.join(d, f))}".encode())
    return h.hexdigest()[:12]


# ---------------------------------------------------------------- isolation

def shm_graft_bytes():
    total = 0
    if os.path.isdir("/dev/shm"):
        for e in os.listdir("/dev/shm"):
            if e.startswith("graft_"):
                total += tree_bytes(os.path.join("/dev/shm", e))
    return total


def tree_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(d, n)).st_size
            except OSError:
                pass
    return total


class Jvm:
    """One Runner JVM, started in fresh scratch roots under `run_dir`."""

    def __init__(self, classpath, plan, run_dir):
        self.roots = {k: os.path.join(run_dir, k) for k in ("warehouse", "tmp", "local", "scratch", "ckpt", "results")}
        for r in self.roots.values():
            os.makedirs(r, exist_ok=True)
        plan = dict(plan, out_dir=run_dir, checkpoint_root=self.roots["ckpt"])
        plan_path = os.path.join(run_dir, "plan.json")
        self.report_path = os.path.join(run_dir, "report.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=self.roots["local"], SPARK_LOCAL_DIRS=self.roots["local"],
                   SPARK_GRAFT_SCRATCH=self.roots["scratch"], SPARK_GRAFT_CPUS=str(CPUS))
        # a fixed heap: a growing one made peak RSS vary by a third between runs
        cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={self.roots['warehouse']}", f"-Djava.io.tmpdir={self.roots['tmp']}",
            "-cp", classpath, "perfbench.Runner", plan_path, self.report_path]
        self.t0 = time.time()
        self.proc = Proc(cmd, cwd=run_dir, env=env, stderr_path=os.path.join(run_dir, "jvm.log"))

    def report(self, timeout=JVM_TIMEOUT_S):
        """Wait for the JVM; its report, with the launch time and the bytes
        left under the roots added."""
        self.proc.wait(timeout)
        with open(self.report_path) as fh:
            report = json.load(fh)
        report["launch_epoch_s"] = self.t0
        report["scratch_mb"] = sum(tree_bytes(self.roots[k])
                                   for k in ("warehouse", "tmp", "local", "scratch", "ckpt")) / 1e6
        return report

    def kill(self):
        self.proc.kill()


class Runs:
    """Fresh run directories under .work/runs/, deleted afterwards, plus the
    leak check: the engine's shared scratch roots must not grow."""

    def __init__(self):
        self.base = os.path.join(WORK, "runs", f"{os.getpid()}-{int(time.time() * 1000)}")
        self.shm0 = shm_graft_bytes()
        self.wh0 = tree_bytes(os.path.join(ROOT, "spark-warehouse"))
        self.n = 0

    def new(self):
        self.n += 1
        d = os.path.join(self.base, str(self.n))
        os.makedirs(d)
        return d

    def close(self):
        shutil.rmtree(self.base, ignore_errors=True)
        grew = []
        if shm_graft_bytes() > self.shm0:
            grew.append("/dev/shm/graft_*")
        if tree_bytes(os.path.join(ROOT, "spark-warehouse")) > self.wh0:
            grew.append("spark-warehouse/")
        if grew:
            raise BenchError("shared scratch grew during the run: " + ", ".join(grew))


# ---------------------------------------------------------------- metrics

def percentile(values, p):
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    x = (len(s) - 1) * p / 100.0
    lo = int(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def check_results(report, dataset_key, spec_dirs):
    """Oracle-check every timed result; returns the failed query rows."""
    failed, checked = [], {}
    for q in report["queries"]:
        log(f"  {q['i']:>3} {q['name']:<28} build {q['build_s']:7.3f}s force {q['force_s']:7.3f}s")
        err = q.get("error")
        if err is None and "same_as" in q:
            # the same rows as an earlier result of this query, checked there
            err = checked[q["same_as"]]
        elif err is None:
            sql = report["oracle_sql"].get(q["name"])
            if sql is None:
                err = "no oracle SQL"
            else:
                err = oracle.compare(os.path.join(report["out_dir"], "results", str(q["i"])),
                                     sql, dataset_key, spec_dirs[q["name"]], WORK)
        checked[q["i"]] = err
        if err:
            q["failure"] = err
            failed.append(q)
            log(f"query {q['i']} {q['name']} FAILED: {err[:300]}")
    return failed


def query_latencies(report):
    """One latency per distinct query: the median of its runs over the
    passes (a query that runs once is its own median)."""
    by_name = {}
    for q in report["queries"]:
        by_name.setdefault(q["name"], []).append(q["latency_s"])
    return [statistics.median(v) for v in by_name.values()]


def end_to_end(report, setups, input_mb):
    lat = query_latencies(report)
    wall = sum(q["latency_s"] + q["isolate_s"] for q in report["queries"])
    return {
        "wall_s": wall,
        "query_p50_s": statistics.median(lat),
        "query_tail_s": percentile(lat, TAIL_PERCENTILE),
        "corpus_mb_per_s": input_mb * len(report["queries"]) / wall,
        "setup_s": statistics.median(setups),
        "peak_rss_mb": report["vm_hwm_mb"],
    }


# ---------------------------------------------------------------- main

def run(args):
    classpath = build()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)["workloads"][args.workload]
    queries, dataset_key, input_mb, info = make_plan(args.workload, spec, args.seed, args.seconds)
    base_plan = {"cpus": CPUS, "warm_dir": dataset("sf0.001"), "warm": spec["warmup"],
                 "queries": [{"name": n, "dir": d} for n, d in queries]}
    query_dirs = {n: d for n, d in queries}
    runs = Runs()
    try:
        setups, reports = [], []
        if args.trace:
            for traced in (False, True):
                jvm = Jvm(classpath, dict(base_plan, trace=traced), runs.new())
                try:
                    reports.append(jvm.report())
                finally:
                    jvm.kill()
            setups.append(reports[0]["setup_done_epoch_s"] - reports[0]["launch_epoch_s"])
        else:
            # All JVMs set up together; the timed one starts its loop once
            # the set-up-only ones have ended, so the loop runs alone.
            go = os.path.join(runs.new(), "go")
            jvms = [Jvm(classpath, dict(base_plan, go_file=go), runs.new())] + \
                [Jvm(classpath, dict(base_plan, setup_only=True), runs.new()) for _ in range(SETUP_SAMPLES - 1)]
            try:
                others = [j.report() for j in jvms[1:]]
                open(go, "w").close()
                reports.append(jvms[0].report())
            finally:
                for j in jvms:
                    j.kill()
            setups = [r["setup_done_epoch_s"] - r["launch_epoch_s"] for r in reports + others]
        failed = []
        for r in reports:
            failed += check_results(r, dataset_key, query_dirs)
        attempted = sum(len(r["queries"]) for r in reports)
        e2e = end_to_end(reports[0], setups, input_mb)
        log(f"{args.workload} seed={args.seed}: {len(queries)} queries, "
            f"fail_frac={len(failed) / attempted:.4f} "
            + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
        if args.trace:
            metrics = tracing.per_layer(args, reports[1], e2e["wall_s"], info, WORK, CPUS)
            units = tracing.UNITS
        else:
            metrics, units = e2e, END_TO_END
    finally:
        runs.close()
    return {"correct": not failed, "attempted": attempted, "failed": len(failed),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        result = run(args)
    except (BenchError, RuntimeError, OSError, KeyError, subprocess.TimeoutExpired) as e:
        log(f"error: {type(e).__name__}: {e}")
        sys.exit(2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
