#!/usr/bin/env python3
"""Benchmark for the graft engine: one closed-loop client, one query at a
time, in one JVM at local[N] with N = the cores this process may use.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <olap_mix|llm_pipeline> --seed <n>
                           --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.sbt, into
.bench_build/, skipped while the sources are unchanged), times the
workload over the project's fixed sf0.01 corpus (perfbench/data/sf0.01;
JVM side: perfbench/src/graft/perfbench/Main.scala), checks every workload
query's result against its DuckDB oracle with tools/check_local.py, and
prints each metric as
`name value unit`, then one JSON line: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics. perfbench/README.md maps
workloads, metrics and layers.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# The project's synthetic TPC-H-ish corpus at scale factor 0.01, as the
# correctness tests read it. Every run reads the same tables; the seed
# only fixes the query order.
DATA = os.path.join(HERE, "data", "sf0.01")
# Each workload's queries (the JVM side, Main.Workloads, fixes their roles
# and order and refuses a list that differs): the ones graft.Verify dumps
# for the oracle check.
WORKLOADS = {
    "olap_mix": ("q1_agg", "q3_topk", "q5_join6", "q10_returns",
                 "h02_sum_by_id1_id2", "h12_join_medium"),
    "llm_pipeline": ("d06_dup_clusters", "d21_indexed_ingest"),
}
# Fixed-size heap with a fixed young generation: eden regions are reused
# after each collection and the old generation grows only with what the
# program keeps, so the JVM's peak resident memory tracks the program
# rather than heap-sizing heuristics.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
# The JVM must end within this many seconds of the build's end.
RUN_LIMIT_S = 170
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

END_TO_END = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "peak_rss_mb": "MB",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness; returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as cf:
                    return cf.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and " " not in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1]


def run_jvm(cp, run_dir, deadline, queries, cores, *args):
    """Runs graft.perfbench.Main with run-private tmp, local and warehouse
    directories, so runs, workloads and other users of the machine never
    share index artifacts or shuffle files."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *ADD_OPENS, *JVM_MEMORY,
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/local",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "graft.perfbench.Main", *map(str, args)]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log,
                                env=dict(os.environ, CLASSPATH=cp,
                                         SPARK_LOCAL_DIRS=f"{run_dir}/local",
                                         SPARK_GRAFT_ONLY=",".join(queries),
                                         SPARK_GRAFT_CPUS=str(cores)))
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the JVM ran past the time limit")
    if proc.returncode != 0:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"the JVM exited with {proc.returncode}")


def oracle_check(results, names):
    """Compares each query's result under `results` (written with its
    oracle_sql.json by graft.Verify) with its DuckDB oracle, using the
    repository's own comparison, tools/check_local.py. Returns
    {query: None if exact, else what differs}; a query with no result
    (it failed) has no `ok` line and counts as wrong."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_local.py"),
         results, DATA, *names], capture_output=True, text=True, timeout=120)
    verdicts = {q: "no result" for q in names}
    for line in proc.stdout.splitlines():
        word, _, rest = line.strip().partition(" ")
        q = (rest.split() or [""])[0].rstrip(":")
        if q in verdicts and word == "ok":
            verdicts[q] = None
        elif q in verdicts and word in ("FAIL", "?"):
            verdicts[q] = rest
    if proc.returncode not in (0, 1):
        verdicts = {q: f"check_local.py exited with {proc.returncode}"
                    for q in names}
    return verdicts


def tail(xs):
    """Highest percentile with at least ten samples beyond it, or the
    maximum when there are too few samples for that percentile to lie
    above the median: (value, percentile, sample count)."""
    xs = sorted(xs)
    n = len(xs)
    k = n - 11 if n >= 21 else n - 1
    return xs[k], 100.0 * (k + 1) / n, n


def pass_layers(p, cores):
    """Per-layer totals of one traced pass."""
    steps = p["steps"]
    tot = {}
    for s in steps:
        for k, v in s["layers"].items():
            tot[k] = tot.get(k, 0.0) + v
    wall = sum(s["wall_s"] for s in steps)
    g = lambda k: tot.get(k, 0.0)
    m = {k: g(k) for k in (
        "scan.input_mb", "scan.input_rows", "scan.files",
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "sched.jobs", "sched.stages", "sched.tasks", "sched.stage_wall_sum_s",
        "sched.driver_gap_s", "exec.run_s", "exec.cpu_s", "exec.gc_s",
        "exec.deser_s", "exec.failed_tasks", "shuffle.write_mb",
        "shuffle.read_mb", "shuffle.records", "shuffle.write_s",
        "shuffle.fetch_wait_s", "shuffle.spill_mb", "aqe.exchanges",
        "aqe.reused_exchanges", "aqe.coalesced_reads", "aqe.skew_splits",
        "aqe.broadcast_joins", "builder.jobs")}
    m["builder.s"] = sum(s["builder_s"] for s in steps)
    m["builder.share"] = m["builder.s"] / wall
    m["sched.core_util"] = g("exec.run_s") / (wall * cores)
    m["exec.unexplained_s"] = g("exec.run_s") - g("exec.cpu_s") - g("exec.gc_s") \
        - g("shuffle.fetch_wait_s") - g("shuffle.write_s")
    m["cache.rdds_after"] = max(s["cached_rdds"] for s in steps)
    m["cache.blocks_after"] = max(s["cached_blocks"] for s in steps)
    m["cache.leaked_mb"] = max(s["cached_mb"] for s in steps)
    builds = {s["query"]: s["wall_s"] for s in steps if s["role"] == "build"}
    probes = [s for s in steps if s["role"] == "probe"]
    m["indexstore.build_s"] = sum(
        b - s["wall_s"] for s in probes for q, b in builds.items() if q == s["query"])
    m["indexstore.probe_s"] = sum(s["wall_s"] for s in probes)
    m["indexstore.written_mb"] = p["artifact_mb"]
    m["indexstore.files"] = p["artifact_files"]
    m["indexstore.reuse_ratio"] = \
        sum(s["new_artifacts"] == 0 for s in probes) / len(probes) if probes else 0.0
    m["jvm.gc_s"] = sum(s["jvm_gc_s"] for s in steps)
    m["jvm.jit_s"] = sum(s["jvm_jit_s"] for s in steps)
    return m


def git(*args):
    try:
        out = subprocess.run(["git", "-C", ROOT, *args], capture_output=True,
                             text=True, timeout=20)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "tools", "check_local.py")):
        if not os.path.exists(need):
            fail(f"not a checkout of the engine: {os.path.relpath(need, ROOT)} is missing")

    cp = build()
    t_start = time.time()
    cores = len(os.sched_getaffinity(0))
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(BUILD, "run", name)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run_jvm(cp, run_dir, t_start + RUN_LIMIT_S, WORKLOADS[a.workload], cores,
            "run", a.workload, a.seed, a.seconds, a.trace, DATA, run_dir, cores)
    with open(os.path.join(run_dir, "record.json")) as fh:
        rec = json.load(fh)
    verdicts = oracle_check(os.path.join(run_dir, "results"), rec["checked"])
    wrong = {q for q, v in verdicts.items() if v}

    passes = rec["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    execs = [s for p in passes for s in p["steps"]]
    failed = sum(1 for s in execs if s["error"] or s["query"] in wrong)
    warm_walls = [s["wall_s"] for p in warm for s in p["steps"]]
    tail_s, tail_pct, tail_n = tail(warm_walls)
    e2e = {
        "setup_s": rec["setup_s"],
        "first_pass_s": passes[0]["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in warm),
        "query_p50_s": statistics.median(warm_walls),
        "query_tail_s": tail_s,
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    extra = {
        "failed_frac": failed / len(execs),
        "leaked_cache_mb": max(s["cached_mb"] for s in execs),
    }
    head = git("rev-parse", "HEAD")
    context = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "commit": head or "unknown",
        "dirty": None if head is None else
        bool(git("status", "--porcelain", "--untracked-files=no")),
        "source_sha256": source_digest()[:16], "host": rec["host"],
        "sentinel": rec["sentinel"],
        "query_tail_percentile": tail_pct, "query_tail_samples": tail_n,
        "passes": len(passes), "attempted": len(execs), "failed": failed,
        "oracle": verdicts,
        "errors": sorted({s["error"] for s in execs if s["error"]}),
    }

    if a.trace:
        traced = [p for p in passes[1:] if p["traced"]]
        per_pass = [pass_layers(p, cores) for p in traced]
        layers = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        layers["session.start_s"] = rec["session_start_s"]
        layers["jvm.first_pass_jit_s"] = sum(s["jvm_jit_s"] for s in passes[0]["steps"])
        traced_pass = statistics.median(p["wall_s"] for p in traced)
        layers["trace.overhead_s"] = traced_pass - e2e["pass_s"]
        context["pass_s_traced"], context["pass_s_untraced"] = traced_pass, e2e["pass_s"]
        metrics = layers
        units = {k: "s" if k.endswith(("_s", ".s")) else
                 "MB" if k.endswith("_mb") else
                 "ratio" if k.endswith(("share", "util", "ratio")) else
                 "rows" if k.endswith("rows") else "count" for k in metrics}
        shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                    os.path.join(results, f"{name}.spans.jsonl"))
    else:
        metrics, units = e2e, END_TO_END

    for k, v in context.items():
        print(f"# {k}: {json.dumps(v)}")
    for k, v in extra.items():
        print(f"{k} {v:.6g} {'MB' if k.endswith('_mb') else 'ratio'}")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    summary = {"context": context, "extra": extra,
               "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    with open(os.path.join(results, f"{name}.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    shutil.copy(os.path.join(run_dir, "record.json"),
                os.path.join(results, f"{name}.record.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(execs),
        "failed": failed, "metrics": summary["metrics"]}))


if __name__ == "__main__":
    main()
