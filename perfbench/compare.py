#!/usr/bin/env python3
"""Judge a change against its parent from two sets of benchmark results.

Usage:
    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--benchmark BENCHMARK.json]

Each directory holds one file per run, named `<workload>.<anything>.json`,
whose last line is the result object `perfbench/run.py` printed; other files
are ignored. Runs pair up in file-name order, so name them by seed or by
pair number. For every workload and end-to-end metric the verdict is:

  worse       the change's median is worse than the parent's by more than
              the metric's bound;
  improved    the change wins at least nine tenths of the pairs (ties count
              for neither side) and the medians differ by more than the
              distance between the parent's quartiles;
  unresolved  the parent's own quartile spread, as a share of its median, is
              wider than the bound, and not every change run beats every
              parent run;
  unchanged   otherwise.

A gain does not count when more operations failed than at the parent. The
exit code is 1 when any row is worse or any run is incorrect.
"""
import argparse
import json
import os
import statistics
import sys


def load(directory):
    runs = {}
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not name.endswith(".json") or not os.path.isfile(path):
            continue
        with open(path) as fh:
            lines = [l for l in fh.read().splitlines() if l.strip()]
        if not lines:
            continue
        runs.setdefault(name.split(".")[0], []).append(json.loads(lines[-1]))
    return runs


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent, change, bound, higher_is_better):
    def better(a, b):
        return a > b if higher_is_better else a < b

    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    worse_by = (pm - cm) if higher_is_better else (cm - pm)
    if worse_by > bound * abs(pm):
        return "worse"
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if better(c, p))
    if wins >= 0.9 * len(pairs) and better(cm, pm) and abs(cm - pm) > (p3 - p1):
        return "improved"
    all_better = all(better(c, p) for c in change for p in parent)
    if (p3 - p1) > bound * abs(pm) and not all_better:
        return "unresolved"
    return "unchanged"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.benchmark) as fh:
        bench = json.load(fh)
    parent, change = load(args.parent), load(args.change)
    bad = False
    print(f"{'workload':16} {'metric':20} {'parent median [q1, q3]':>32} "
          f"{'change median':>14} {'ratio':>7}  verdict")
    for wl in [w["name"] for w in bench["workloads"]]:
        ps, cs = parent.get(wl, []), change.get(wl, [])
        if not ps or not cs:
            print(f"{wl:16} {'(no runs)':20} {len(ps):>32} {len(cs):>14}")
            bad = True
            continue
        p_failed = sum(r["failed"] for r in ps)
        c_failed = sum(r["failed"] for r in cs)
        if not all(r["correct"] for r in ps + cs):
            bad = True
        for m in bench["end_to_end"]:
            pv = [r["metrics"][m["name"]]["value"] for r in ps if m["name"] in r["metrics"]]
            cv = [r["metrics"][m["name"]]["value"] for r in cs if m["name"] in r["metrics"]]
            if not pv or not cv:
                print(f"{wl:16} {m['name']:20} {'missing':>32}")
                bad = True
                continue
            v = verdict(pv, cv, m["bound"], m["better"] == "higher")
            if v == "improved" and c_failed > p_failed:
                v = "unchanged (more failures)"
            bad |= v == "worse"
            q1, med, q3 = quartiles(pv)
            cmed = quartiles(cv)[1]
            ratio = cmed / med if med else float("nan")
            print(f"{wl:16} {m['name']:20} {med:>14.4g} [{q1:.4g}, {q3:.4g}]"
                  f"{'':>2} {cmed:>14.4g} {ratio:>7.3f}  {v}")
        print(f"{wl:16} {'failed/attempted':20} "
              f"{p_failed:>14}/{sum(r['attempted'] for r in ps):<17}"
              f"{c_failed:>7}/{sum(r['attempted'] for r in cs)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
