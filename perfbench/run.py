#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, three seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script builds the benchmark (an sbt
build in this directory that depends on the engine build one level up) when
its sources changed, generates the workload's inputs from the seed, runs the
benchmark JVM, checks every output against the oracles, writes an evidence
file under .bench_build/evidence/ and prints, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Exit code: 0 when every output matched its oracle, 1 on a mismatch (the
result line is still printed), 2 on a usage or build error, 3 when a JVM
failed or ran out of time (no result line).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

# BENCHMARK.json names the first two; index_store_churn runs on demand (NOTES.md)
WORKLOADS = ("index_build", "neardup_dedup", "index_store_churn")
# every run ends well inside the 180 s a run may take
RUN_BUDGET_S = 170

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("cpu_s_per_pass", "s"), ("live_heap_mb", "MB")]

# <span>.<metric>, the layer figures an optimisation is most likely to move; a
# span a workload does not run reports 0. Kept short so that the result line
# stays under 2000 characters; the full span table is in the evidence file.
PER_LAYER = [
    ("sources.DocumentCorpus.documentsFromPaths.self_s", "s"),
    ("operators.InvertedIndex.buildGated.self_s", "s"),
    ("operators.InvertedIndex.buildGated.shuffle_write_mb", "MB"),
    ("operators.LetterTextSink.write.self_s", "s"),
    ("operators.LetterTextSink.write.task_skew", "ratio"),
    ("operators.Dedup.shingleHashes.self_s", "s"),
    ("operators.Dedup.lshCandidates.self_s", "s"),
    ("operators.Dedup.lshCandidates.pairs_candidate", "count"),
    ("operators.Dedup.verifyJaccard.self_s", "s"),
    ("operators.Dedup.verifyJaccard.keep_ratio", "ratio"),
    ("operators.Dedup.connectedComponents.self_s", "s"),
    ("operators.Dedup.ngramJaccardDups.self_s", "s"),
    ("operators.Dedup.simhashNearDups.self_s", "s"),
    ("operators.Dedup.embeddingNearDupsIndexed.self_s", "s"),
    ("operators.ArtifactCache.builds", "count"),
    ("jvm.jit_s", "s"),
]


def fail(code, msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def sources_digest():
    """Hash of every file the benchmark build compiles or configures."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(state):
    args_file = os.path.join(HERE, "target", "launcher.args")
    stamp = os.path.join(state, "build.stamp")
    digest = sources_digest()
    if os.path.exists(args_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return args_file
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           "-Dsbt.repository.config=" + repos)
    log = os.path.join(state, "build.log")
    with open(log, "wb") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launcher"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=840).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(args_file):
        fail(2, "build failed, see " + log)
    with open(stamp, "w") as f:
        f.write(digest)
    return args_file


# -------------------------------------------------------------- run state

def heap_setting():
    """The engine's Tier-1 driver heap: half of RAM in GB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def cpu_jiffies():
    """(steal, total) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except (OSError, ValueError):
        return None


def clear_artifact_cache(input_dir):
    """Remove the ArtifactCache entries of this input dir: the engine keys its
    near-dup index under /tmp by the sanitized input path."""
    root = "/tmp/graft-neardup"
    key = re.sub(r"[^A-Za-z0-9.]+", "_", input_dir) + "-"
    if os.path.isdir(root):
        for name in os.listdir(root):
            if name.startswith(key):
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def run_jvm(args_file, workload, input_dir, seconds, role, work, deadline, cores):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    clear_artifact_cache(input_dir)
    cmd = ["java", "-Xmx" + heap_setting(), "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
           "-Dderby.system.home=" + tmp,
           "@" + args_file, "graft.perfbench.Main",
           workload, input_dir, str(seconds), role, result]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:  # timed out, or this script was stopped
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(result):
        with open(log, "rb") as f:
            tail = f.read()[-3000:].decode("utf-8", "replace")
        fail(3, "%s JVM (%s) ended with %s; log tail:\n%s" % (role, workload, rc, tail))
    with open(result) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def end_to_end(m):
    return {
        "setup_s": m["setup_s"],
        "pass_s": statistics.median(m["pass_s"]),
        "cpu_s_per_pass": statistics.median(m["cpu_s"]),
        "live_heap_mb": m["live_heap_mb"],
    }


def per_layer(spans):
    out = {}
    for name, _ in PER_LAYER:
        span, metric = name.rsplit(".", 1)
        v = spans.get(span, {}).get(metric)
        out[name] = 0.0 if v is None else v
    return out


def table(rows):
    w = max(len(r[0]) for r in rows)
    return "\n".join("  %-*s %14s %s" % (w, n, "%.6g" % v if isinstance(v, float) else v, u)
                     for n, v, u in rows)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stop request unwinds through the clean-up below instead of orphaning the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(2, "engine sources not found: run from the root of a full checkout")

    state = os.path.join(ROOT, ".bench_build")
    os.makedirs(state, exist_ok=True)
    args_file = build(state)

    t_start = time.time()
    deadline = t_start + RUN_BUDGET_S
    load0, j0 = os.getloadavg(), cpu_jiffies()
    work = os.path.join(state, "runs", "%s-s%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "in")
    cores = len(os.sched_getaffinity(0))
    import gen
    try:
        t0 = time.time()
        shape = gen.generate(a.workload, a.seed, input_dir)
        gen_s = time.time() - t0
        m = run_jvm(args_file, a.workload, input_dir, a.seconds,
                    "trace" if a.trace else "measure", work, deadline, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        clear_artifact_cache(input_dir)
    load1, j1 = os.getloadavg(), cpu_jiffies()

    attempted, failed = int(m["attempted"]), min(int(m["failed"]), int(m["attempted"]))
    correct = failed == 0
    if a.trace:
        metrics = per_layer(m["spans"])
        units = dict(PER_LAYER)
    else:
        metrics = end_to_end(m)
        units = dict(END_TO_END)
    extra = {k: (v["value"], v["unit"]) for k, v in m["metrics"].items()}
    steal = None
    if j0 and j1 and j1[1] > j0[1]:
        steal = 100.0 * (j1[0] - j0[0]) / (j1[1] - j0[1])

    evidence = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "generation_s": gen_s, "input_shape": shape,
        "environment": {"cores": cores, "cpu_steal_pct": steal, "loadavg_before": load0,
                        "loadavg_after": load1, "heap": heap_setting()},
        "correct": correct, "attempted": attempted, "failed": failed,
        "failed_share": failed / max(1, attempted), "failures": m["failures"],
        "metrics": metrics, "workload_metrics": extra,
        "pass_s_raw": m.get("pass_s"), "cpu_s_raw": m.get("cpu_s"),
        "jvm": m,
    }
    ev_dir = os.path.join(state, "evidence")
    os.makedirs(ev_dir, exist_ok=True)
    ev_path = os.path.join(ev_dir, "%s-seed%d-trace%d-%d.json" % (
        a.workload, a.seed, a.trace, int(t_start)))
    with open(ev_path, "w") as f:
        json.dump(evidence, f, indent=1)

    rows = [(k, v, units[k]) for k, v in metrics.items()]
    if not a.trace:
        rows.insert(2, ("pass_s samples", len(m["pass_s"]), "passes"))
        rows.insert(3, ("settling passes", len(m["settle_pass_s"]), "passes"))
        rows += [(k, v, u) for k, (v, u) in sorted(extra.items())]
        rows.append(("failed_share", failed / max(1, attempted), "ratio"))
    else:
        rows += [("tracing_overhead_s", m["tracing_overhead_s"], "s"),
                 ("traced_passes", m["traced_passes"], "passes")]
        rows += [("%s.%s" % (span, k), v[k], "")
                 for span, v in m["spans"].items() if v.get("wall_s")
                 for k in ("self_s", "jobs", "tasks", "input_mb", "shuffle_write_mb", "plan_s",
                           "coverage")
                 if k in v and "%s.%s" % (span, k) not in metrics]
    print("perfbench %s seed=%d trace=%d (inputs %.1f s, evidence %s)" % (
        a.workload, a.seed, a.trace, gen_s, os.path.relpath(ev_path, ROOT)))
    print(table(rows))
    for f in m["failures"][:5]:
        print("  MISMATCH " + f[:300])
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
