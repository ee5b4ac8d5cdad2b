#!/usr/bin/env python3
"""Compare two source trees on one benchmark workload with alternating pairs.

  python3 scripts/bench_pairs.py PARENT_TREE CHANGE_TREE --workload W \
      --seeds 11 12 13 ... [--seconds 10] [--out runs.jsonl]

Each seed is one pair: `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` runs once in each tree (each tree builds its own
program), the parent first on even pair indices and the change first on odd
ones. For every end-to-end metric it prints each side's median and quartiles,
the parent's spread (quartile distance / median), and the change's wins out
of the pairs where both sides produced the metric (ties count for neither).
A metric's direction and regression bound come from CHANGE_TREE's
BENCHMARK.json. `gain` is yes when the change wins at least 9/10 of the pairs
and its median beats the parent's by more than the parent's quartile
distance; `regress` is yes when the change's median is worse than the
parent's by more than the bound. `--out` keeps every run's result line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=int, nargs="+")
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--out")
    return p.parse_args()


def run_once(tree, workload, seed, seconds):
    """One benchmark run; returns its result object, or None if it failed."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(f"[bench_pairs] run failed in {tree} (seed {seed}):\n"
                         + r.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    a = parse()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    sides = {"parent": a.parent, "change": a.change}
    pairs = []
    out = open(a.out, "a") if a.out else None
    for i, seed in enumerate(a.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            res = run_once(sides[side], a.workload, seed, a.seconds)
            pair[side] = res
            if out:
                out.write(json.dumps({"workload": a.workload, "seed": seed, "side": side,
                                      "result": res}) + "\n")
                out.flush()
        pairs.append(pair)
        def val(side, name):
            res = pair[side]
            return res["metrics"].get(name, {}).get("value") if res else None
        print(f"[bench_pairs] pair {i + 1}/{len(a.seeds)} seed {seed}: op_p50_s "
              f"parent {val('parent', 'op_p50_s')} change {val('change', 'op_p50_s')}",
              file=sys.stderr, flush=True)
    if out:
        out.close()

    fails = {s: sum(1 for p in pairs if p[s] is None or p[s]["failed"] > 0) for s in sides}
    print(f"workload {a.workload}: {len(pairs)} pairs, seeds {a.seeds}, "
          f"runs with failures: parent {fails['parent']}, change {fails['change']}")
    print(f"{'metric':<20} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
          f"{'delta':>8} {'spread':>7} {'wins':>6} {'gain':>5} {'regress':>7}")
    names = sorted({n for p in pairs for s in sides if p[s] for n in p[s]["metrics"]})
    for name in names:
        both = [(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
                for p in pairs if p["parent"] and p["change"]
                and name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
        if not both:
            continue
        par = [x for x, _ in both]
        chg = [y for _, y in both]
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        delta = (cmed - pmed) / pmed if pmed else float("nan")
        spread = (pq3 - pq1) / pmed if pmed else float("nan")
        m = spec.get(name)
        wins = gain = regress = "n/a"
        if m:
            sign = 1 if m["better"] == "higher" else -1
            won = sum(1 for x, y in both if sign * (y - x) > 0)
            wins = f"{won}/{len(both)}"
            gain = "yes" if (won >= 0.9 * len(both)
                             and sign * (cmed - pmed) > (pq3 - pq1)) else "no"
            regress = "yes" if pmed and -sign * delta > m["bound"] else "no"
        ptxt = f"{pmed:.4g} [{pq1:.4g}, {pq3:.4g}]"
        ctxt = f"{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]"
        print(f"{name:<20} {ptxt:>30} {ctxt:>30} {delta:>+8.1%} {spread:>7.3f} "
              f"{wins:>6} {gain:>5} {regress:>7}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
