#!/usr/bin/env python3
"""Compares two sets of refresh-benchmark runs of one workload.

    python3 refreshbench/compare.py BASE.log NEW.log

Each log holds the standard output of one or more runs (their `env` and
result lines, as run.py prints them). Prints, per metric, the median of
each side, the new median over the base median, and each side's spread
(interquartile range over median). Refuses, with exit code 2, to compare
runs made with different CPU counts, Spark masters or workloads.
"""
import json
import statistics
import sys


def load(path):
    envs, results = [], []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith('{"env"'):
                envs.append(json.loads(line)["env"])
            elif line.startswith('{"correct"'):
                results.append(json.loads(line))
    if not envs or not results:
        sys.exit("%s: no runs found" % path)
    return envs, results


def spread(values):
    if len(values) < 2:
        return float("nan")
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    (base_env, base), (new_env, new) = load(sys.argv[1]), load(sys.argv[2])
    for key in ("nproc", "master", "workload"):
        seen = {str(e[key]) for e in base_env + new_env}
        if len(seen) > 1:
            sys.stderr.write("refusing to compare: runs differ in %s (%s)\n"
                             % (key, ", ".join(sorted(seen))))
            return 2
    for side, results in (("base", base), ("new", new)):
        bad = sum(1 for r in results if not r["correct"])
        if bad:
            print("%s: %d of %d runs failed a check" % (side, bad, len(results)))
    names = [n for n in base[0]["metrics"] if all(n in r["metrics"] for r in base + new)]
    print("%-30s %14s %14s %8s %8s %8s" % ("metric", "base", "new", "new/base",
                                          "spread0", "spread1"))
    for n in names:
        b = [r["metrics"][n]["value"] for r in base]
        m = [r["metrics"][n]["value"] for r in new]
        mb, mn = statistics.median(b), statistics.median(m)
        ratio = mn / mb if mb else float("nan")
        print("%-30s %14.6g %14.6g %8.3f %8.3f %8.3f" % (n, mb, mn, ratio, spread(b), spread(m)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
