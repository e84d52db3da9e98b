#!/usr/bin/env python3
"""Steadiness and comparison runs of the benchmark.

Steadiness: run one workload K times, on seeds 1..K, and print
each end-to-end metric's median, quartiles and spread (interquartile
range over median) next to the metric's bound from BENCHMARK.json:

    python3 perfbench/steady.py --workload query_mix --runs 10

Comparison: K alternating pairs of a parent checkout and this one (which
side runs first alternates), pair k on seed k.  Prints each side's
median and quartiles, the change's median relative to the parent's, the
pairs the change won, and whether the difference stays within the bound:

    python3 perfbench/steady.py --workload query_mix --runs 10 --parent ../parent

Every run measures for run_seconds from BENCHMARK.json.  Both checkouts
must hold the same perfbench directory.  Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    if r.returncode != 0:
        raise RuntimeError(f"run failed in {checkout} (seed {seed}):\n{r.stderr[-3000:]}")
    out = json.loads(r.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        print(f"  seed {seed} in {checkout}: {out['failed']} of {out['attempted']} ops wrong",
              file=sys.stderr)
    return {k: v["value"] for k, v in out["metrics"].items()}


def summary(values):
    """(median, q1, q3, spread) with Python's default quartile method."""
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def steadiness(args, spec):
    runs = []
    for i in range(args.runs):
        seed = i + 1
        runs.append(run_once(".", args.workload, seed, spec["run_seconds"]))
        print(f"  run {i + 1}/{args.runs} seed {seed}: " + ", ".join(
            f"{k}={v:.4g}" for k, v in runs[-1].items()), file=sys.stderr)
    print(f"{args.workload}: {args.runs} runs, seeds 1..{args.runs}")
    print(f"{'metric':18s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>8s} {'bound':>6s}")
    table = {}
    for m in spec["end_to_end"]:
        med, q1, q3, spread = summary([r[m["name"]] for r in runs])
        verdict = "ok" if spread <= m["bound"] / 3 else ("within" if spread <= m["bound"] else "WIDE")
        print(f"{m['name']:18s} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:8.3f} {m['bound']:6.2f} {verdict}")
        table[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": m["bound"]}
    return {"runs": runs, "summary": table}


def compare(args, spec):
    pairs = []
    for i in range(args.runs):
        seed = i + 1
        order = [("parent", args.parent), ("change", ".")]
        if i % 2:
            order.reverse()
        pair = {side: run_once(where, args.workload, seed, spec["run_seconds"])
                for side, where in order}
        pairs.append(pair)
        print(f"  pair {i + 1}/{args.runs} seed {seed} done", file=sys.stderr)
    print(f"{args.workload}: {args.runs} alternating pairs")
    table = {}
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"][name] for p in pairs]
        chg = [p["change"][name] for p in pairs]
        pm, pq1, pq3, pspread = summary(par)
        cm, cq1, cq3, _ = summary(chg)
        wins = sum(1 for a, b in zip(par, chg) if (b < a if lower else b > a))
        worse = (cm - pm) / pm if lower else (pm - cm) / pm
        if pspread > m["bound"]:
            verdict = "unresolved (parent spread above bound)"
        elif worse > m["bound"]:
            verdict = "REGRESSION"
        else:
            verdict = "within bound"
        print(f"{name:18s} parent {pm:.4g} [{pq1:.4g}, {pq3:.4g}]  change {cm:.4g} "
              f"[{cq1:.4g}, {cq3:.4g}]  change/parent {cm / pm:.3f}  "
              f"wins {wins}/{len(pairs)}  {verdict}")
        table[name] = {"parent": par, "change": chg, "wins": wins, "verdict": verdict}
    return {"pairs": pairs, "summary": table}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--parent", help="checkout of the parent commit, for alternating pairs")
    ap.add_argument("--out", help="write every run's metrics and the summary here as JSON")
    args = ap.parse_args()
    spec = load_spec(".")
    result = compare(args, spec) if args.parent else steadiness(args, spec)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
