#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the harness from
source (once per source state), makes the workload's inputs from the seed,
runs the harness in one JVM at `local[N]` (N = the machine's cores), checks
every query's output against its DuckDB oracle, and prints one JSON line
last: the end-to-end metrics with `--trace 0`, the per-layer metrics of a
traced run with `--trace 1`. The line before it holds the run's context
(cores, master, growth factor, seed, input rows and bytes per table) and
per-query figures. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880
# A fixed, pre-touched heap: GC sizing then behaves the same in every run,
# and the resident set outside the heap is exactly VmHWM minus the heap.
# C1 only: under C2 the JIT keeps recompiling for minutes, longer than any
# run, so call times fall sweep after sweep, and its compiler's native
# memory swings the resident set by hundreds of MB. Figures are C1 figures.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:TieredStopAtLevel=1"]

sys.path.insert(0, HERE)
import inputs  # noqa: E402
import layers  # noqa: E402
from workloads import END_TO_END, WORKLOADS  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Hash of everything the build reads: program and harness sources and
    build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project"), os.path.join(HARNESS, "src")]
    for r in roots:
        for dirpath, dirnames, files in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
        if os.path.isfile(r):
            h.update(r.encode())
            with open(r, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(deadline):
    """Compile program and harness with sbt (offline) unless this source
    state is built already. Returns (launch info, whether it built): the
    launch info is the classpath and the root build's JVM options."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program sources not found: {need} is missing under {ROOT}")
    fp = fingerprint()
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built["fingerprint"] == fp:
            return built, False
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"],
                              cwd=HARNESS, env=env, stdout=log, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL, timeout=max(1, deadline - time.time()))
    if proc.returncode != 0:
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}")
    with open(os.path.join(HARNESS, "target", "launch.json")) as f:
        built = dict(json.load(f), fingerprint=fp)
    # grown inputs and oracle answers come from the program: redo them too
    shutil.rmtree(os.path.join(WORK, "prepared"), ignore_errors=True)
    with open(stamp, "w") as f:
        json.dump(built, f)
    return built, True


def harness(launch, args, tmp, deadline):
    """Run one harness JVM to completion (killed at the deadline)."""
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + launch["java_options"] +
           JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(launch["classpath"]),
            "perfbench.Harness"] + args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"harness {args[0]} did not finish in time")
    if code != 0:
        fail(f"harness {args[0]} exited with {code}")


def prepare(launch, spec, cores, deadline):
    """A workload's unpermuted base tables and its oracle answers, made
    once per build (and again when the workload's query list grows): the
    base is the committed fixture or a GrowFixture cut of it. The answers
    depend only on table contents, which no seed changes, so they are
    computed once from the base."""
    base = inputs.FIXTURE
    work = os.path.join(WORK, "prepared", spec["name"])
    if spec["grow"]:
        base = os.path.join(work, f"grown-x{spec['grow']}")
    answers_path = os.path.join(work, "answers.pkl")
    if os.path.exists(answers_path):
        with open(answers_path, "rb") as f:
            answers = pickle.load(f)
        if set(spec["queries"]) <= set(answers):
            return base, answers
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    if spec["grow"]:
        harness(launch, ["grow", "--base", inputs.FIXTURE, "--out", base,
                         "--factor", str(spec["grow"]), "--cores", str(cores)],
                tmp, deadline)
    harness(launch, ["oracles", "--queries", ",".join(spec["queries"]), "--out", work],
            tmp, deadline)
    shutil.rmtree(tmp)
    import check  # imports duckdb, which only runs off the timed path
    with open(os.path.join(work, "oracle_sql.json")) as f:
        answers = check.oracle_answers(base, json.load(f))
    with open(answers_path + ".tmp", "wb") as f:
        pickle.dump(answers, f)
    os.rename(answers_path + ".tmp", answers_path)
    return base, answers


def seeded_inputs(spec, base, seed):
    """The seed's input directory for a workload (kept for the last seed)."""
    root = os.path.join(WORK, "inputs", spec["name"])
    out = os.path.join(root, f"seed-{seed}")
    if not os.path.exists(out):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        inputs.permute(base, out, seed)
    return out


def per_query_median(execs, key="wall_s"):
    walls = {}
    for e in execs:
        if e["error"] is None:
            walls.setdefault(e["query"], []).append(e[key])
    return {q: statistics.median(v) for q, v in walls.items()}


def tally(result, checked):
    """(attempted, failed, failures) of a run: every timed call and every
    oracle-checked output is one attempt; a call that threw and an output
    that is missing or differs from its oracle are failures."""
    failures = {q: f"oracle check: {msg}" for q, (ok, msg) in checked.items() if not ok}
    for q, msg in result["check_errors"].items():
        failures[q] = f"output pass: {msg}"
    for e in result["execs"]:
        if e["error"]:
            failures[e["query"]] = f"timed call: {e['error']}"
    failed = sum(1 for e in result["execs"] if e["error"]) + sum(
        1 for ok, _ in checked.values() if not ok)
    return len(result["execs"]) + len(checked), failed, failures


def end_to_end(result):
    walls = [e["wall_s"] for e in result["execs"] if e["error"] is None]
    if not walls:
        fail("every timed call failed: " + result["execs"][0]["error"])
    return {
        "setup_s": result["setup"]["setup_s"],
        "wall_s": sum(per_query_median(result["execs"]).values()),
        "query_p50_s": layers.percentile(walls, 50),
        "query_p90_s": layers.percentile(walls, 90),
        "peak_rss_mb": (result["heap_live_peak_bytes"] + result["off_heap_peak_bytes"]) / 2**20,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] cores (default: all); for core-scaling records")
    a = ap.parse_args()
    started = time.time()
    launch, built = build(started + BUILD_TIMEOUT_S)
    # a run that builds gets a longer deadline
    deadline = started + (BUILD_TIMEOUT_S if built else TIMEOUT_S)
    if built:  # the building run, with its longer deadline, prepares every workload
        for w in WORKLOADS.values():
            prepare(launch, w, a.cores, deadline)
    spec = WORKLOADS[a.workload]
    queries = spec["queries"]
    base, answers = prepare(launch, spec, a.cores, deadline)
    inp = seeded_inputs(spec, base, a.seed)
    run = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-cores{a.cores}")
    shutil.rmtree(run, ignore_errors=True)
    harness(launch, ["run", "--input", inp, "--out", run, "--queries", ",".join(queries),
                     "--cores", str(a.cores), "--seconds", str(a.seconds),
                     "--trace", str(a.trace),
                     "--spawn-ms", str(time.time_ns() // 1_000_000)],
            os.path.join(run, "tmp"), deadline)
    with open(os.path.join(run, "result.json")) as f:
        result = json.load(f)

    import check
    attempted, failed, failures = tally(result, check.check(answers, run, queries))

    if a.trace:
        trace_path = os.path.join(run, "trace.json")
        with open(trace_path) as f:
            metrics, per_query = layers.per_layer(result, json.load(f), a.cores)
        metrics["failed_frac"] = failed / attempted
        metrics["trace.wall_s"] = end_to_end(result)["wall_s"]
    else:
        metrics, per_query = end_to_end(result), {}
    units = {m["name"]: m["unit"] for m in (END_TO_END if not a.trace else layers.PER_LAYER)}

    context = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "cores": result["cores"], "master": result["master"],
        "default_parallelism": result["default_parallelism"],
        "shuffle_partitions": result["shuffle_partitions"],
        "spark_version": result["spark_version"], "growth_factor": spec["grow"] or 1,
        "inputs": inputs.describe(inp), "sweeps": result["sweeps"],
        "window_s": result["window_s"], "output_pass_s": result["output_pass_s"],
        "samples": len(result["execs"]),
        "setup": result["setup"], "vm_hwm_mb": result["vm_hwm_bytes"] / 2**20,
        "query_median_s": per_query_median(result["execs"]),
        "query_build_median_s": per_query_median(result["execs"], "build_s"),
        "per_query": per_query, "failures": failures,
        "run_s": time.time() - started,
    }
    with open(os.path.join(run, "summary.json"), "w") as f:
        json.dump({"context": context, "metrics": metrics}, f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
