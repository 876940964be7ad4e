#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or report the spread of one set.

    python3 perfbench/compare.py PARENT_DIR [CHANGE_DIR]

Each directory holds `<workload>.jsonl`: one line per run, the JSON line
run.py printed last. Run i of one side is paired with run i of the other,
so alternate which side runs first when collecting them.

For every workload and end-to-end metric in BENCHMARK.json this prints
each side's median and quartiles and the spread (q3 - q1) / median. With
two sets it adds the share of pairs the change wins (ties count for
neither) and a verdict against the metric's bound:

  regression  the change's median is worse than the parent's by more than
              the bound
  gain        the change wins at least 9 in 10 pairs and the medians
              differ by more than the parent's quartile distance
  unchanged   neither
  unresolved  a side's spread exceeds the bound, unless every run of one
              side is better than every run of the other
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(d):
    runs = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".jsonl"):
            with open(os.path.join(d, f)) as fh:
                runs[f[:-6]] = [json.loads(l) for l in fh if l.strip()]
    return runs


def summary(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return {"q1": q1, "median": med, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def verdict(a, b, bound, better):
    """Verdict for change values b against parent values a (lists)."""
    sign = 1 if better == "higher" else -1
    sa, sb = summary(a), summary(b)
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    share = wins / min(len(a), len(b))
    worse = sign * (sa["median"] - sb["median"]) / sa["median"]
    if sa["spread"] > bound or sb["spread"] > bound:
        if all(sign * (y - x) > 0 for x in a for y in b):
            return share, "gain"
        if all(sign * (x - y) > 0 for x in a for y in b):
            return share, "regression"
        return share, "unresolved"
    if worse > bound:
        return share, "regression"
    if share >= 0.9 and abs(sb["median"] - sa["median"]) > sa["q3"] - sa["q1"]:
        return share, "gain"
    return share, "unchanged"


def main(argv):
    if len(argv) not in (1, 2):
        sys.exit(__doc__)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    sets = [load_runs(d) for d in argv]
    for w in sorted(sets[0]):
        for m in bench["end_to_end"]:
            name = m["name"]
            cols = []
            vals = [[r["metrics"][name]["value"] for r in s.get(w, [])] for s in sets]
            if not all(vals):
                continue
            for v in vals:
                s = summary(v)
                cols.append(f"n={len(v)} median={s['median']:.4g} q1={s['q1']:.4g} "
                            f"q3={s['q3']:.4g} spread={s['spread']:.3f}")
            line = f"{w:10s} {name:16s} bound={m['bound']:<5} " + " | ".join(cols)
            if len(vals) == 2:
                share, v = verdict(vals[0], vals[1], m["bound"], m["better"])
                line += f" | wins={share:.2f} {v}"
            else:
                line += " steady" if summary(vals[0])["spread"] < m["bound"] / 3 else " SPREAD"
            print(line)
        fails = sum(r["failed"] for s in sets for r in s.get(w, []))
        tries = sum(r["attempted"] for s in sets for r in s.get(w, []))
        print(f"{w:10s} failed_ratio     {fails}/{tries}")


if __name__ == "__main__":
    main(sys.argv[1:])
