"""Steadiness report: run one workload K times and summarise.

    python3 graftbench/steady.py --workload olap_mix --runs 5 [--first-seed 1]

Each run gets its own seed (``first-seed``, ``first-seed + 1``, ...).
Per end-to-end metric it prints the median, the quartiles, the
interquartile range and the max/min spread as shares of the median,
next to the metric's bound from ``BENCHMARK.json``. It also prints the
first-half vs second-half ``pass_s`` of each run's window, read from
the run's artifact, to show that warm-up ended before measuring.
``--compare FILE`` checks a second set of runs against the medians a
first set saved with ``--save FILE``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med if med else float("inf"),
        "range_share": (max(values) - min(values)) / med if med else float("inf"),
    }


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    pattern = os.path.join(ROOT, ".graftbench_runs", f"{workload}-s{seed}-t{trace}-*", "artifact.json")
    with open(max(glob.glob(pattern), key=os.path.getmtime)) as fh:
        return result, json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--save", help="write the metric medians to this JSON file")
    ap.add_argument("--compare", help="JSON file of medians from an earlier set")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    halves = []
    for i in range(args.runs):
        seed = args.first_seed + i
        result, art = one_run(args.workload, seed, bench["run_seconds"], 0)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        p = art["pass_s"]
        h = len(p) // 2
        first, second = statistics.median(p[:h]), statistics.median(p[len(p) - h:])
        halves.append(second / first)
        print(
            f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
            f"failed={result['failed']} "
            + " ".join(f"{k}={v['value']:.4f}" for k, v in result["metrics"].items())
            + f" passes={len(p)} second/first-half={second / first:.3f}",
            flush=True,
        )

    medians = {}
    print(f"\n{args.workload}: {args.runs} runs")
    print(f"{'metric':<12}{'median':>10}{'q1':>10}{'q3':>10}{'iqr%':>8}{'range%':>8}{'bound%':>8}  ok")
    for name, vals in values.items():
        s = spread(vals)
        medians[name] = s["median"]
        b = bounds.get(name, float("nan"))
        ok = name == "setup_s" or s["iqr_share"] <= b / 3
        print(
            f"{name:<12}{s['median']:>10.4f}{s['q1']:>10.4f}{s['q3']:>10.4f}"
            f"{100 * s['iqr_share']:>8.1f}{100 * s['range_share']:>8.1f}{100 * b:>8.1f}  "
            + ("yes" if ok else "NO (iqr above a third of the bound)")
        )
    print(
        "second-half / first-half pass_s per run: median "
        f"{statistics.median(halves):.3f}, min {min(halves):.3f}, max {max(halves):.3f}"
    )
    if args.compare:
        with open(args.compare) as fh:
            before = json.load(fh)
        for name, med in medians.items():
            worse = med / before[name] - 1
            print(
                f"{name}: median {med:.4f} vs earlier {before[name]:.4f} "
                f"({100 * worse:+.1f}%, bound {100 * bounds[name]:.0f}%) "
                + ("ok" if worse <= bounds[name] else "WORSE THAN BOUND")
            )
    if args.save:
        with open(args.save, "w") as fh:
            json.dump(medians, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
