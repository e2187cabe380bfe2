#!/usr/bin/env python3
"""Records a baseline: every workload with seeds 1..N (tracing off), then
one traced run per workload (seed 1), into perfbench/baseline/.

    python3 perfbench/baseline.py [--seeds 10] [--workloads a,b]

Run from the root of a checkout. For each end-to-end metric it reports the
median, the quartiles (`statistics.quantiles(values, n=4)`) and their
distance as a share of the median, next to the metric's bound; for the
traced run, the per-module self times and the tracing overhead (traced
minus untraced window of the same seed).
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    return res


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "n": len(values)}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", default=os.path.join(BENCH, "baseline"))
    args = ap.parse_args()
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    record = {"host": {"cores": os.cpu_count(), "machine": platform.machine(),
                       "python": platform.python_version()},
              "run_seconds": seconds, "workloads": {}}
    for w in args.workloads.split(","):
        runs = []
        for seed in range(1, args.seeds + 1):
            res = run(w, seed, seconds, 0)
            runs.append({"seed": seed, "wall_s": res["wall_s"], "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed {seed}: {runs[-1]}", file=sys.stderr)
        traced = run(w, 1, seconds, 1)
        with open(os.path.join(ROOT, ".bench_build", "perfbench", "traces",
                               f"{w}-seed1.json")) as f:
            dump = json.load(f)
        untraced_pass = runs[0]["metrics"]["pass_s"]
        record["workloads"][w] = {
            "runs": runs,
            "summary": {m: dict(summary([r["metrics"][m] for r in runs]), bound=bounds[m])
                        for m in bounds},
            "wall_s": summary([r["wall_s"] for r in runs]),
            "all_correct": all(r["correct"] for r in runs),
            "traced": {
                "correct": traced["correct"],
                "metrics": {k: v["value"] for k, v in traced["metrics"].items()},
                "modules": {m: v["self_s"] for m, v in dump["modules"].items()},
                "covered_share": dump["covered_share"],
                "table": dump["table"],
                "window_s": dump["wall_s"],
                "untraced_pass_s": untraced_pass,
                "overhead_s": dump["wall_s"] - untraced_pass,
            },
        }
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, "baseline.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    with open(os.path.join(args.out, "baseline.md"), "w") as f:
        f.write(markdown(record))


def markdown(record):
    out = ["# perfbench baseline", "",
           f"{record['host']['cores']} cores ({record['host']['machine']}), "
           f"`run_seconds` {record['run_seconds']}. Seeds 1..n with tracing off; "
           "spread = (q3 − q1) / median of `statistics.quantiles(values, n=4)`.", ""]
    for w, r in record["workloads"].items():
        n = r["summary"]["pass_s"]["n"]
        out += [f"## {w}", "",
                f"{n} runs, all correct: {r['all_correct']}; run wall time median "
                f"{r['wall_s']['median']:.1f} s (q1 {r['wall_s']['q1']:.1f}, "
                f"q3 {r['wall_s']['q3']:.1f}).", "",
                "| metric | median | q1 | q3 | spread | bound |", "|---|---|---|---|---|---|"]
        for m, s in r["summary"].items():
            out.append(f"| `{m}` | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | "
                       f"{s['spread']:.3f} | {s['bound']} |")
        t = r["traced"]
        passes = [x["metrics"]["pass_s"] for x in r["runs"]]
        out += ["", f"Traced run (seed 1): window {t['window_s']:.2f} s against "
                f"{t['untraced_pass_s']:.2f} s untraced with the same seed, an overhead of "
                f"{t['overhead_s']:+.2f} s ({t['window_s'] - statistics.median(passes):+.2f} s "
                f"against the untraced median; untraced passes took {min(passes):.2f} to "
                f"{max(passes):.2f} s). Module self times cover "
                f"{100 * t['covered_share']:.1f}% of the window.", "",
                "| module | self time (s) |", "|---|---|"]
        for m, v in sorted(t["modules"].items(), key=lambda kv: -kv[1]):
            out.append(f"| {m} | {v:.3f} |")
        out += ["", "| per-module metric | value |", "|---|---|"]
        for k, v in sorted(t["table"].items()):
            out.append(f"| `{k}` | {v:.4g} |")
        out.append("")
    return "\n".join(out)


if __name__ == "__main__":
    main()
