#!/usr/bin/env python3
"""Steadiness check: run the benchmark on several seeds per workload and
report, per end-to-end metric, the median, the quartiles and the spread
(inter-quartile range over the median) next to the metric's bound.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--out FILE]
    python3 perfbench/steady.py --report FILE.json [FILE.json ...]

Run it from the checkout root. `--out` writes the raw values and the
summary as JSON; the summary table goes to stdout. `--report` prints the
markdown tables of saved JSON files (STEADINESS.md is made that way).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=None)
    ap.add_argument("--report", nargs="+", default=None)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.report:
        current = {m["name"]: m["bound"] for m in bench["end_to_end"]}
        sets = []
        for path in args.report:
            with open(path) as fh:
                sets.append(json.load(fh))
            print(markdown(sets[-1], os.path.basename(path), current))
        if len(sets) == 2:
            print(agreement(sets[0], sets[1], current))
        return
    seconds = bench["run_seconds"]
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    raw = {}
    for wl in names:
        raw[wl] = []
        for i in range(args.runs):
            seed = args.first_seed + i
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 wl, "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", "0"], stdout=subprocess.PIPE, text=True)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            res["wall_s"] = time.time() - t0
            res["seed"] = seed
            raw[wl].append(res)
            print(f"{wl} seed {seed}: {time.time() - t0:.1f} s "
                  f"correct={res['correct']}", file=sys.stderr, flush=True)
    summary = {}
    for wl, runs in raw.items():
        summary[wl] = {}
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[wl][m] = {"median": statistics.median(vals), "q1": q1,
                              "q3": q3,
                              "spread": (q3 - q1) / statistics.median(vals),
                              "bound": bounds[m]}
        summary[wl]["run_wall_s"] = statistics.mean(r["wall_s"] for r in runs)
    print(f"{'workload':15} {'metric':12} {'median':>10} {'q1':>10} "
          f"{'q3':>10} {'spread':>7} {'bound':>6}")
    for wl, ms in summary.items():
        for m, s in ms.items():
            if m == "run_wall_s":
                continue
            print(f"{wl:15} {m:12} {s['median']:10.4f} {s['q1']:10.4f} "
                  f"{s['q3']:10.4f} {s['spread']:7.4f} {s['bound']:6.2f}")
        print(f"{wl:15} mean run wall {ms['run_wall_s']:.1f} s")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"seconds": seconds, "summary": summary, "raw": raw},
                      fh, indent=1)


def markdown(saved, title, bounds):
    """The saved runs as markdown tables, against the current bounds."""
    lines = [f"### {title}", ""]
    for wl, ms in saved["summary"].items():
        seeds = [r["seed"] for r in saved["raw"][wl]]
        lines += [f"`{wl}`: {len(seeds)} runs, seeds {seeds[0]}-{seeds[-1]}, "
                  f"--seconds {saved['seconds']}, mean run wall "
                  f"{ms['run_wall_s']:.1f} s", "",
                  "| metric | median | q1 | q3 | spread | bound | spread / bound |",
                  "| --- | ---: | ---: | ---: | ---: | ---: | ---: |"]
        for m, s in ms.items():
            if m == "run_wall_s":
                continue
            b = bounds[m]
            lines.append(f"| {m} | {s['median']:.4f} | {s['q1']:.4f} | "
                         f"{s['q3']:.4f} | {s['spread']:.4f} | {b:.2f} "
                         f"| {s['spread'] / b:.2f} |")
        lines.append("")
    return "\n".join(lines)


def agreement(first, second, bounds):
    """Second set's median against the first's, per workload and metric:
    (second - first) / first, next to the bound it must stay within."""
    lines = ["### second set against the first", "",
             "| workload | metric | first median | second median | change | bound |",
             "| --- | --- | ---: | ---: | ---: | ---: |"]
    for wl, ms in second["summary"].items():
        for m, b in bounds.items():
            a, c = first["summary"][wl][m]["median"], ms[m]["median"]
            lines.append(f"| {wl} | {m} | {a:.4f} | {c:.4f} | "
                         f"{(c - a) / a:+.4f} | {b:.2f} |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    main()
