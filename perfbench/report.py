#!/usr/bin/env python3
"""Markdown reports from finished benchmark runs.

    python3 perfbench/report.py traced   # spread, self time, VERDICT questions
    python3 perfbench/report.py scaling  # wall time at each --cores value

Reads the `summary.json` every `run.py` call leaves under
`.bench_build/perfbench/runs/`; it runs nothing itself. The traced report
wants, per workload, untraced runs at the default core count over several
seeds and one traced run whose seed is among them. The scaling report
wants untraced runs of one seed at several `--cores` values.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import layers  # noqa: E402
from run import WORK  # noqa: E402
from workloads import END_TO_END, WORKLOADS  # noqa: E402

# iterations each graph query runs (the `iters` argument in its definition)
GRAPH_ITERS = {"q_hits": 3, "q_label_prop": 4, "q_pagerank": 5}
# VERDICT r15 item 4: before -> after seconds at 32 cores on sf0.1
VERDICT_MOVES = {"q_dedup_pipeline": (3.77, 4.34), "q_dedup_minhash": (3.12, 3.47),
                 "q_hits": (3.98, 4.47)}


def runs():
    out = []
    for p in sorted(glob.glob(os.path.join(WORK, "runs", "*", "summary.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def spread(xs):
    """(median, q1, q3, (q3 - q1) / median), quartiles as statistics.quantiles."""
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / med


def table(header, rows):
    lines = ["| " + " | ".join(header) + " |", "|" + "---|" * len(header)]
    lines += ["| " + " | ".join(str(c) for c in r) + " |" for r in rows]
    return "\n".join(lines)


def f(x, d=3):
    return f"{x:.{d}f}"


def traced(all_runs):
    cores = max(r["context"]["cores"] for r in all_runs)
    out = ["# Traced-run report", ""]
    first = next(r["context"] for r in all_runs if r["context"]["cores"] == cores)
    out += [f"Hardware: a {cores}-core x86-64 Linux VM (Intel Xeon), JDK 17. Spark "
            f"{first['spark_version']}, master `{first['master']}`, "
            "queries one at a time. Untraced runs give the end-to-end spread; one traced "
            "run per workload gives per-layer figures. All per-layer sums are per sweep "
            "(one pass over the workload's queries).", ""]
    for w in WORKLOADS:
        plain = [r for r in all_runs if r["context"]["workload"] == w
                 and r["context"]["trace"] == 0 and r["context"]["cores"] == cores]
        tr = [r for r in all_runs if r["context"]["workload"] == w
              and r["context"]["trace"] == 1 and r["context"]["cores"] == cores]
        if not plain or not tr:
            continue
        seeds = sorted(r["context"]["seed"] for r in plain)
        out += [f"## {w}", "", f"Untraced runs: {len(plain)} (seeds {seeds[0]}..{seeds[-1]}); "
                f"growth factor {plain[0]['context']['growth_factor']}; "
                f"failed calls or checks: {sum(bool(r['context']['failures']) for r in plain)} runs.", ""]
        rows = []
        for m in END_TO_END:
            med, q1, q3, s = spread([r["metrics"][m["name"]] for r in plain])
            rows.append([m["name"], m["unit"], f(med), f(q1), f(q3), f(s), m["bound"]])
        out += [table(["metric", "unit", "median", "Q1", "Q3", "spread (IQR/median)", "bound"],
                      rows), ""]
        if len(plain) >= 4:
            plain.sort(key=lambda r: r["context"]["seed"])
            a, b = plain[:len(plain) // 2], plain[len(plain) // 2:]
            rows = []
            for m in END_TO_END:
                sa = spread([r["metrics"][m["name"]] for r in a])
                sb = spread([r["metrics"][m["name"]] for r in b])
                ma, mb = sa[0], sb[0]
                rows.append([m["name"], f(ma), f(sa[3]), f(mb), f(sb[3]),
                             f"{100 * (mb / ma - 1):+.1f}%",
                             "yes" if abs(mb / ma - 1) <= m["bound"] else "no"])
            out += [f"Two sets of the same code: seeds {a[0]['context']['seed']}.."
                    f"{a[-1]['context']['seed']} then {b[0]['context']['seed']}.."
                    f"{b[-1]['context']['seed']}.", "",
                    table(["metric", "median, first set", "spread, first set",
                           "median, second set", "spread, second set", "change",
                           "change within bound"], rows), ""]

        per_q = {}
        for r in plain:
            for q, v in r["context"]["query_median_s"].items():
                per_q.setdefault(q, []).append(v)
        rows = [[q, f(spread(v)[0]), f(spread(v)[3])] for q, v in per_q.items()]
        out += ["Per-query wall time over the untraced runs:", "",
                table(["query", "median s", "spread (IQR/median)"], rows), ""]

        t = tr[0]
        tm, ctx = t["metrics"], t["context"]
        base = next((r for r in plain if r["context"]["seed"] == ctx["seed"]), None)
        wall = tm["trace.wall_s"]
        rows = [[c, f(tm[f"self.{c}_s"]), f"{100 * tm[f'self.{c}_s'] / wall:.1f}%"]
                for c in layers.SELF]
        out += [f"Traced run, seed {ctx['seed']}: self time per sweep "
                f"(sums to the traced wall time, {f(wall)} s).", "",
                table(["layer", "self s", "share"], rows), ""]
        if base:
            ov = wall - base["metrics"]["wall_s"]
            med = statistics.median(r["metrics"]["wall_s"] for r in plain)
            sp = spread([r["metrics"]["wall_s"] for r in plain])[3]
            verdict = ("inside the untraced runs' `wall_s` spread, so these runs do not "
                       "resolve the overhead" if abs(wall / med - 1) <= sp else
                       "outside the untraced runs' `wall_s` spread; the traced run ran "
                       "after the untraced sets, so the host's drift is mixed in (a "
                       "negative overhead is drift alone)")
            out += [f"Tracing overhead: traced wall {f(wall)} s minus untraced wall "
                    f"{f(base['metrics']['wall_s'])} s (same seed) = {f(ov)} s "
                    f"({100 * ov / base['metrics']['wall_s']:+.1f}%); against the untraced "
                    f"median {f(med)} s it is {100 * (wall / med - 1):+.1f}%, "
                    f"{verdict} ({100 * sp:.1f}%).", ""]
        keys = ["setup.session_s", "setup.warmup_s", "queries.build_s", "queries.build_jobs",
                "plan.optimizer_s", "sched.jobs", "sched.tasks", "sched.driver_gap_s",
                "exec.task_run_s", "exec.core_util", "scan.read_mb", "shuffle.read_mb",
                "stream.batches", "batch_p50_ms", "state.commit_s", "state.rows_peak",
                "mem.heap_live_peak_mb", "mem.off_heap_peak_mb"]
        out += [table(["per-layer metric", "value"], [[k, f(tm[k])] for k in keys]), ""]
        rows = []
        for q, v in ctx["per_query"].items():
            total = sum(v[f"self.{c}_s"] for c in layers.SELF)
            rows.append([q, f(v["wall_s"]), f(total), f(v["jobs"], 1), f(v["build_jobs"], 1),
                         f(v["stages"], 1), f(v["tasks"], 1), f(v["batches"], 1)]
                        + [f(v[f"self.{c}_s"]) for c in layers.SELF])
        out += ["Per query (traced; means over the query's calls; the self times sum to "
                "the wall time, to the millisecond):", "",
                table(["query", "wall s", "Σ self s", "jobs", "build jobs", "stages", "tasks",
                       "batches"] + [f"{c} s" for c in layers.SELF], rows), ""]

    out += ["## VERDICT r15 questions", ""]
    llm = [r for r in all_runs if r["context"]["workload"] == "llm_pipeline"
           and r["context"]["trace"] == 1]
    if llm:
        pq = llm[0]["context"]["per_query"]
        rows = [[q, f(pq[q]["jobs"], 0), n, f(pq[q]["jobs"] / n, 1)] if q in pq
                else [q, "not in the workload", n, "—"] for q, n in GRAPH_ITERS.items()]
        out += ["Jobs per call of the graph queries (item 5; the jobs/iteration column "
                "divides all of a call's jobs, set-up jobs included, by its iterations):", "",
                table(["query", "jobs per call", "iterations", "jobs / iteration"], rows), ""]
    plain = [r for r in all_runs if r["context"]["workload"] == "llm_pipeline"
             and r["context"]["trace"] == 0 and r["context"]["cores"] == cores]
    rows = []
    for q, (a, b) in VERDICT_MOVES.items():
        v = [r["context"]["query_median_s"][q] for r in plain
             if q in r["context"]["query_median_s"]]
        if len(v) >= 2:
            s = spread(v)[3]
            rows.append([q, f"{100 * (b / a - 1):+.1f}%", f"{100 * s:.1f}%",
                         f(((b / a) - 1) / s, 2)])
        else:
            rows.append([q, f"{100 * (b / a - 1):+.1f}%", "not measured", "—"])
    out += ["Moves of item 4 (sf0.1, 32 cores, one before/after pair) against this "
            "benchmark's run-to-run spread of the same query (IQR/median over the "
            "untraced runs). A move no larger than about one spread cannot be told "
            "from noise with one pair; it needs ten or more "
            "alternating before/after pairs. `q_dedup_pipeline` is in no workload.", "",
            table(["query", "VERDICT move", "spread here", "move ÷ spread"], rows), ""]
    gates = {}
    for r in all_runs:
        if r["context"]["trace"] == 1:
            for q, v in r["context"]["per_query"].items():
                if v["batches"]:
                    gates[q] = v["batches"]
    out += ["`stream.batches` per gate (the \"batches now\" column of item 7):", "",
            table(["gate", "micro-batches per call"], [[q, f(n, 0)] for q, n in gates.items()]),
            ""]
    return "\n".join(out)


def scaling(all_runs):
    out = ["# Core-scaling record", "",
           "Untraced runs of one seed at `local[1]`, `local[2]` and `local[N]` "
           "(N = all cores) on a 4-core x86-64 Linux VM, shuffle partitions = cores. Not "
           "gated. One run per row, so differences inside the run-to-run spread of `wall_s` "
           "(traced.md) are not resolved.", ""]
    rows = []
    for w in WORKLOADS:
        rs = [r for r in all_runs if r["context"]["workload"] == w and r["context"]["trace"] == 0]
        ones = [r["context"]["seed"] for r in rs if r["context"]["cores"] == 1]
        if not ones:
            continue
        by = {r["context"]["cores"]: r for r in rs if r["context"]["seed"] == ones[0]}
        one = by[1]["metrics"]["wall_s"]
        for c, r in sorted(by.items()):
            m = r["metrics"]
            rows.append([w, c, ones[0], f(m["wall_s"]), f(one / m["wall_s"], 2),
                         f(m["query_p50_s"]), r["context"]["sweeps"]])
    out += [table(["workload", "cores", "seed", "wall_s", "speed-up vs 1 core",
                   "query_p50_s", "sweeps"], rows), ""]
    return "\n".join(out)


if __name__ == "__main__":
    kind = sys.argv[1] if len(sys.argv) > 1 else "traced"
    print({"traced": traced, "scaling": scaling}[kind](runs()))
