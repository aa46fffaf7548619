#!/usr/bin/env python3
"""Paired benchmark runs: a parent checkout against this checkout.

    python3 tools/bench_pairs.py <workload> <parent_dir> <seed>...

For each seed, runs `perfbench/run.py --workload <workload> --seed <seed>
--seconds 10 --trace 0` once in <parent_dir> and once in this checkout,
alternating which side runs first. Then prints, per end-to-end metric of
BENCHMARK.json, both sides' medians, the parent's quartile spread (q3 - q1)
and how many pairs the change won (ties count for neither side), then a
verdict line per metric, and flags every run that was not `correct`.
Verdicts, from each metric's `better` and `bound` in BENCHMARK.json:

  gain           the change won at least 9/10 of the pairs, and its median
                 is better than the parent's by more than the parent's
                 quartile spread;
  worse          the change's median is worse than the parent's by more
                 than bound x the parent's median;
  unresolved     neither, and the parent's spread is wider than that
                 bound, unless every change run beat every parent run;
  no regression  otherwise.

Make the parent checkout with
`git archive <sha> | tar -x -C <parent_dir>`; each side builds on its first
run. The script only calls the benchmark; it changes nothing in it.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(side_dir, workload, seed):
    """One benchmark run; returns its final JSON object (None on failure)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "10", "--trace", "0"]
    p = subprocess.run(cmd, cwd=side_dir, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(f"[bench_pairs] run failed in {side_dir} "
                         f"(exit {p.returncode}):\n{p.stderr[-2000:]}\n")
        return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(par, chg, better, bound):
    """The verdict line's word for one metric (see the module docstring)."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for a, b in zip(par, chg) if sign * (b - a) > 0)
    lo, hi = quartiles(par)
    gain = sign * (statistics.median(chg) - statistics.median(par))
    limit = bound * abs(statistics.median(par))
    if wins >= 0.9 * len(par) and gain > hi - lo:
        return "gain"
    if -gain > limit:
        return "worse"
    if hi - lo > limit and not all(sign * (b - a) > 0
                                   for a in par for b in chg):
        return "unresolved"
    return "no regression"


def main():
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    workload, parent = sys.argv[1], os.path.abspath(sys.argv[2])
    seeds = [int(s) for s in sys.argv[3:]]
    with open(os.path.join(HERE, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"parent": parent, "change": HERE}
    pairs = []
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            pair[side] = run(sides[side], workload, seed)
            res = pair[side]
            ok = res is not None and res["correct"] and res["failed"] == 0
            vals = "" if res is None else " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"seed {seed} {side:6s} {'correct' if ok else 'NOT CORRECT'}"
                  f" {vals}", flush=True)
        pairs.append(pair)

    done = [p for p in pairs if p["parent"] and p["change"]]
    print(f"\n{workload}: {len(done)} complete pairs of {len(pairs)}")
    for m in metrics if done else []:
        name = m["name"]
        par = [p["parent"]["metrics"][name]["value"] for p in done]
        chg = [p["change"]["metrics"][name]["value"] for p in done]
        sign = 1 if m["better"] == "higher" else -1
        wins = sum(1 for a, b in zip(par, chg) if sign * (b - a) > 0)
        lo, hi = quartiles(par)
        print(f"{name:12s} parent median {statistics.median(par):.4g} "
              f"[q1 {lo:.4g} q3 {hi:.4g}, spread {hi - lo:.4g}]  "
              f"change median {statistics.median(chg):.4g}  "
              f"change better in {wins}/{len(done)} pairs")
        print(f"{name:12s} verdict: "
              f"{verdict(par, chg, m['better'], m['bound'])}")
    bad = [(s, side) for s, p in zip(seeds, pairs) for side in p
           if not (p[side] and p[side]["correct"] and p[side]["failed"] == 0)]
    print("runs not correct: " +
          (", ".join(f"seed {s} {side}" for s, side in bad) if bad else "none"))


if __name__ == "__main__":
    main()
