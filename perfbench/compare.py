#!/usr/bin/env python3
"""Compares two result sets of the benchmark.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds run records as run.py saves them
(.bench_build/perfbench/results/*.json). Runs are paired by workload, trace
mode and seed. For every workload and metric it prints each side's median
and quartiles, the share of pairs each side won, and a verdict (see
stats.compare): improved, no worse, worse or unresolved. End-to-end
metrics are judged against their bound in BENCHMARK.json; metrics without
a bound can only be improved or unresolved.
"""

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


BOOKKEEPING = {"iter_tail_pct", "iter_tail_beyond", "iterations"}


def load(path):
    runs = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        values = dict(r.get("end_to_end", {}))
        values.update(r.get("per_layer", {}))
        values.update({k: v for k, v in r.get("detail", {}).items()
                       if k not in BOOKKEEPING and isinstance(v, (int, float))})
        runs.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = values
    return runs


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             os.pardir, "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':14s} {'metric':28s} {'parent q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'won p/c':>9s}  verdict")
    for key in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[key]) & set(change[key]))
        if not seeds:
            continue
        names = sorted(set.intersection(*(set(parent[key][s]) & set(change[key][s])
                                          for s in seeds)))
        for name in names:
            p = [parent[key][s][name] for s in seeds]
            c = [change[key][s][name] for s in seeds]
            m = declared.get(name, {})
            better = m.get("better", "higher" if name == "ann.recall_at_k" else "lower")
            r = stats.compare(p, c, better, m.get("bound"))
            fmt = "{:9.4g}/{:9.4g}/{:9.4g}"
            print(f"{key[0]:14s} {name:28s} {fmt.format(*stats.quartiles(p)):>30s} "
                  f"{fmt.format(*stats.quartiles(c)):>30s} "
                  f"{r['parent_won']:4.2f}/{r['change_won']:4.2f}  {r['verdict']}")


if __name__ == "__main__":
    main()
