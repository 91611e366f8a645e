#!/usr/bin/env python3
"""The repository's benchmark: two workloads over the graft engine at sf0.1.

    python3 perfbench/run.py --workload {tail,gridsearch} --seed N \
        --seconds S --trace {0,1} [--scale SF]

Run from the repository root. The first run builds the engine and the
harness with sbt, generates the input tables and caches both under
`.bench_build/`. Each run starts one JVM, warms the workload up, runs whole
passes of its items for at least S seconds, checks every item's output, and
prints as its last line one JSON object: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("tail", "gridsearch")
# The tail: the median query (by bench time) of each tenth of the 380
# benched queries that took under 1 s in bench_history.jsonl row r15g, plus
# q_scan_partitioned, which writes a partitioned Lake table and reads it back.
TAIL_QUERIES = [
    "q_case", "q_mcnemar", "q_not_in_null", "q_embed_centroid", "q_winsorize",
    "q_split_leakage", "q_energy_dist", "q_user_overlap", "q_semdedup", "q_join_q3",
    "q_scan_partitioned",
]
# A run must end within 180 s, or 900 s when it also builds.
JVM_LIMIT_S = 150
BUILD_LIMIT_S = 700
JVM_HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

sys.path.insert(0, HERE)
import datagen  # noqa: E402
import oracle  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, deadline, **kw):
    """Runs cmd in its own process group; on timeout or on any exit of this
    script kills the whole group and waits for it. Returns the exit code, or
    None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def source_hash():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), HARNESS]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            for f in files if "target" not in os.path.relpath(d, top).split(os.sep)
            and not os.path.relpath(d, top).startswith("project" + os.sep + "project"))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(src_hash, deadline):
    """Compiles the engine and harness once per source tree; returns the
    runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{src_hash}.txt")
    if os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log("building engine and harness with sbt (first run in this checkout)")
    with open(log_path, "w") as out:
        code = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
             "-J-XX:-UsePerfData", "compile", "export bench/Runtime/fullClasspath"],
            deadline, cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT)
    lines = open(log_path).read().splitlines()
    cps = [l for l in lines if os.path.join("perfbench", "harness", "target") in l
           and not l.startswith("[")]
    if code != 0 or not cps:
        sys.exit(f"[perfbench] build failed; see {log_path}")
    with open(cp_file + ".part", "w") as f:
        f.write(cps[-1])
    os.replace(cp_file + ".part", cp_file)
    return cps[-1]


def tail_order(seed):
    """The tail queries in the seed's order."""
    items = list(TAIL_QUERIES)
    random.Random(seed).shuffle(items)
    return items


def run_jvm(args, classpath, data_dir, run_dir, items, ref, deadline):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=1g",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data_dir, "--out", run_dir, "--t0", str(int(time.time() * 1000)),
           "--items", ",".join(items) or "-", "--ref", ref]
    env = dict(os.environ, GRAFT_LAKE_ROOT=os.path.join(BUILD, "lake"))
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        code = run_child(cmd, deadline, cwd=run_dir, env=env, stdout=out, stderr=err)
    if code is None:
        sys.exit("[perfbench] the run exceeded its deadline")
    for line in open(os.path.join(run_dir, "jvm.out")):
        if line.startswith("[perfbench]"):
            print(line.rstrip())
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result):
        tail = open(os.path.join(run_dir, "jvm.err")).read()[-3000:]
        sys.exit(f"[perfbench] the benchmark JVM failed (exit {code}):\n{tail}")
    return json.load(open(result))


def failed_items(res, data_dir, run_dir):
    """Per item, its units that threw or returned a wrong result."""
    if res["workload"] == "gridsearch":
        return [it["wrong"] for it in res["items"]]
    expected = {}
    for name, sql in res["oracle"].items():
        want = oracle.oracle_digest(sql, data_dir, os.path.join(BUILD, "oracle"))
        got = oracle.result_digest(os.path.join(run_dir, "results", name))
        expected[name] = want["rows"] if got == want else None
        if got != want:
            log(f"{name}: output differs from the oracle (rows {got and got['rows']} vs {want['rows']})")
    bad = []
    for it in res["items"]:
        wrong = bool(it["error"]) or expected.get(it["name"]) != it["count"]
        if it["error"]:
            log(f"{it['name']}: {it['error']}")
        bad.append(int(wrong))
    return bad


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="0.1", help="scale factor of the input tables")
    args = p.parse_args()
    start = time.time()
    # Termination by a signal still runs the cleanup of run_child.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("[perfbench] no engine sources (build.sbt, src/main/scala) next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    src_hash = source_hash()
    classpath = build(src_hash, start + BUILD_LIMIT_S)
    data_dir = os.path.join(BUILD, "data", f"sf{args.scale}")
    datagen.generate(data_dir, float(args.scale))

    items = tail_order(args.seed) if args.workload == "tail" else []
    print(f"[perfbench] workload={args.workload} seed={args.seed} scale={args.scale} "
          f"cores={os.cpu_count()} items={','.join(items) or 'GridSearchCV(parallelism=cores)'}")
    run_dir = os.path.join(BUILD, "runs", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ref = os.path.join(BUILD, f"gridsearch-ref-{src_hash}-sf{args.scale}.txt")
    res = run_jvm(args, classpath, data_dir, run_dir, items, ref, time.time() + JVM_LIMIT_S)

    bad = failed_items(res, data_dir, run_dir)
    units = res["units_per_item"]
    attempted = len(res["items"]) * units
    failed = sum(bad)
    n_timed = res["timed_items"]
    timed = res["items"][:n_timed]
    lat = [it["latency"] for it, b in zip(timed, bad) if not b]
    e2e = {
        "setup_s": res["setup_s"],
        "items_per_s": n_timed * units / res["window_s"],
        "latency_p50_s": statistics.median(lat) if lat else 0.0,
        "retained_heap_mb": res["retained_heap_mb"],
    }
    print(f"[perfbench] {n_timed} items in {res['window_s']:.3f} s window, "
          f"{len(lat)} latency samples, fail_frac={failed / attempted:.4f}")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values = res.get("layers", {}) if args.trace else e2e
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
