#!/usr/bin/env python3
"""The query census: one traced pass over every SparkEntry.queries entry,
and the rule that picks the query_surface subset from it.

Usage (from the repository root):
    python3 perfbench/census.py run --data TABLES_DIR --out FILE [--warmups N]
    python3 perfbench/census.py select FILE
    python3 perfbench/census.py diff FILE_A FILE_B

`run` builds like perfbench/run.py, runs `--warmups` untraced passes and one
traced pass over all entries, and writes a JSON table with one row per
query: latency_s, build_s, exec_s, build_jobs, exec_jobs and shuffle bytes.
A pass over all entries takes minutes, so this is not a benchmark workload.

`select` applies the selection rule. The e2e_* entries (the ones that run a
recipe end to end and write a store) are one group, all other entries the
other. Sort the other entries by latency and cut them into STRATA strata of
(nearly) equal count; from each stratum, and from the e2e group, take the
query nearest the group's median build jobs, then its median total jobs, then
its median latency (name breaks ties). It prints the subset, then how its
latency and jobs compare with the whole table.

`diff` lists the queries whose job counts differ between two tables.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# Four strata and one e2e entry: five queries keep a pass near 4.5 s, so 22
# runs of query_surface fit the time the benchmark's runs may take.
STRATA = 4


def jobs(q):
    return q["build_jobs"] + q["exec_jobs"]


def strata(rows, k):
    """Split rows into k consecutive groups whose sizes differ by at most one."""
    n = len(rows)
    bounds = [round(i * n / k) for i in range(k + 1)]
    return [rows[bounds[i]:bounds[i + 1]] for i in range(k)]


def surface(rows):
    """The query_surface subset: STRATA latency strata of the other entries,
    then one e2e_* entry."""
    e2e = [q for q in rows if q["query"].startswith("e2e_")]
    other = [q for q in rows if not q["query"].startswith("e2e_")]
    return select(other, STRATA) + select(e2e, 1)


def select(rows, k):
    picks = []
    for group in strata(sorted(rows, key=lambda q: (q["latency_s"], q["query"])), k):
        mb = statistics.median(q["build_jobs"] for q in group)
        mj = statistics.median(jobs(q) for q in group)
        ml = statistics.median(q["latency_s"] for q in group)
        picks.append(min(group, key=lambda q: (abs(q["build_jobs"] - mb), abs(jobs(q) - mj),
                                               abs(q["latency_s"] - ml), q["query"])))
    return picks


def summary(label, rows):
    lat = [q["latency_s"] for q in rows]
    p = statistics.quantiles(lat, n=10, method="inclusive") if len(lat) > 1 else lat * 9
    print(f"{label}: {len(rows)} queries, latency p50 {statistics.median(lat):.3f} s, "
          f"p90 {p[8]:.3f} s, mean {statistics.mean(lat):.3f} s; "
          f"jobs per query {statistics.mean(jobs(q) for q in rows):.2f} "
          f"(builder {statistics.mean(q['build_jobs'] for q in rows):.2f}); "
          f"builder share {sum(q['build_s'] for q in rows) / sum(q['build_s'] + q['exec_s'] for q in rows):.2f}")


def census(args):
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "perfbench", "build.sbt")):
        run.fail("run from the root of a repository checkout")
    state = os.path.join(root, ".bench_build")
    os.makedirs(state, exist_ok=True)
    classpath = run.build(root, state)
    tmp = os.path.join(state, "tmp", f"census-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        rc = subprocess.run(run.java_cmd(classpath, tmp, "perfbench.Census",
                                         ["--data", os.path.abspath(args.data),
                                          "--out", os.path.abspath(args.out),
                                          "--warmups", str(args.warmups)]),
                            stdin=subprocess.DEVNULL).returncode
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(rc)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--data", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--warmups", type=int, default=1)
    s = sub.add_parser("select")
    s.add_argument("table")
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    args = ap.parse_args()

    if args.cmd == "run":
        census(args)
    elif args.cmd == "select":
        with open(args.table) as fh:
            rows = json.load(fh)["queries"]
        picks = surface(rows)
        for q in picks:
            print(f"{q['query']:32} latency {q['latency_s']:.3f} s  "
                  f"build_jobs {q['build_jobs']:3}  jobs {jobs(q):3}")
        summary("subset", picks)
        summary("all", rows)
    else:
        with open(args.a) as fa, open(args.b) as fb:
            a, b = json.load(fa), json.load(fb)
        ja = {q["query"]: q for q in a["queries"]}
        jb = {q["query"]: q for q in b["queries"]}
        print(f"jobs: {a['jobs']} in {args.a}, {b['jobs']} in {args.b}")
        for name in sorted(set(ja) | set(jb)):
            qa, qb = ja.get(name), jb.get(name)
            if qa is None or qb is None or jobs(qa) != jobs(qb):
                fmt = lambda q: "-" if q is None else f"{q['build_jobs']}+{q['exec_jobs']}"
                print(f"{name:32} {fmt(qa):>7} -> {fmt(qb):>7}")


if __name__ == "__main__":
    main()
