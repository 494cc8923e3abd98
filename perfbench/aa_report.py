#!/usr/bin/env python3
"""A/A steadiness report: two sets of runs of one build, per workload.

For every end-to-end metric it gives each set's median, quartiles and
relative spread ((Q3 - Q1) / median, quartiles as
`statistics.quantiles(values, n=4)` gives them), the shift of the second
median against the first, and a verdict against BENCHMARK.json's bounds,
for every metric:
  - spread: each set's spread must stay within the bound (and the
    benchmark aims for a third of it);
  - shift: the second median may differ from the first, either way, by at
    most the bound.

Usage (from the root of a checkout):
  python3 perfbench/aa_report.py [--runs 10] [--workloads a,b] [--log aa.jsonl]
Set A uses seeds 1..runs and set B seeds 101..100+runs. Each finished run
is appended to the log; runs already in the log are not repeated, so an
interrupted report resumes where it stopped.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds):
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    try:
        return json.loads(last)
    except json.JSONDecodeError:
        sys.stderr.write(proc.stdout[-3000:])
        raise SystemExit(f"aa_report: {workload} seed {seed} printed no result")


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--log", default=".bench_build/aa_runs.jsonl")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    done = {}
    if os.path.exists(a.log):
        for line in open(a.log):
            r = json.loads(line)
            done[(r["workload"], r["seed"])] = r["result"]
    os.makedirs(os.path.dirname(a.log) or ".", exist_ok=True)
    sets = {"A": range(1, a.runs + 1), "B": range(101, 101 + a.runs)}
    for w in workloads:
        for seeds in sets.values():
            for s in seeds:
                if (w, s) not in done:
                    done[(w, s)] = run_once(w, s, spec["run_seconds"])
                    with open(a.log, "a") as f:
                        f.write(json.dumps({"workload": w, "seed": s, "result": done[(w, s)]}) + "\n")

    ok = True
    report = {}
    for w in workloads:
        results = {k: [done[(w, s)] for s in seeds] for k, seeds in sets.items()}
        bad_runs = [r for rs in results.values() for r in rs if not r["correct"] or r["failed"]]
        print(f"\n{w}: {sum(len(r) for r in results.values())} runs, {len(bad_runs)} with failed checks")
        ok &= not bad_runs
        print(f"  {'metric':22s} {'set':3s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s}"
              f" {'bound':>6s}  verdict")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = {k: summary([r["metrics"][name]["value"] for r in rs]) for k, rs in results.items()}
            shift = stats["B"]["median"] / stats["A"]["median"] - 1
            verdicts = []
            for k, st in stats.items():
                if st["spread"] > bound:
                    verdicts.append(f"{k} spread over bound")
                elif st["spread"] > bound / 3:
                    verdicts.append(f"{k} spread over a third of the bound")
            if abs(shift) > bound:
                verdicts.append("median shift over bound")
            ok &= not any("over bound" in v for v in verdicts)
            for k, st in stats.items():
                print(f"  {name:22s} {k:3s} {st['median']:12.4f} {st['q1']:12.4f} {st['q3']:12.4f}"
                      f" {st['spread']:7.3f} {bound:6.2f}" +
                      (f"  B/A {shift:+.3f}: {'; '.join(verdicts) or 'steady'}" if k == "B" else ""))
            report.setdefault(w, {})[name] = dict(stats, shift=shift, verdicts=verdicts)
    print("\nverdict:", "steady within every bound" if ok else "NOT steady")
    with open(os.path.splitext(a.log)[0] + "_report.json", "w") as f:
        json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
