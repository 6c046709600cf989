#!/usr/bin/env python3
"""Compare saved perfbench runs of a parent and a change, seed by seed.

Each side is a directory of saved `perfbench/run.py` stdouts, one file per
run, named `<workload>_<seed>.out` (for example `lake_churn_1001.out`); the
last line of each file is the run's result JSON. For every workload and
every end-to-end metric in BENCHMARK.json (read, never written) it prints
the parent and change medians with their [q1, q3], the number of seeds on
which the change was better, and the relative change of the medians
against the metric's bound:

    python3 tools/perf_ab.py PARENT_DIR CHANGE_DIR [--benchmark BENCHMARK.json]

`gate` reads REGRESSED when the change's median is worse than the parent's
by more than the bound, and unresolved when the parent's own spread (its
interquartile range over its median) is wider than the bound, unless every
change run is better than every parent run. `claim` reads yes when the
change is better on at least nine in ten seed pairs and its median is
better by more than the parent's interquartile range: the rule a claimed
gain has to meet. Traced runs carry no end-to-end metrics. A run
whose result says `correct: false` is counted and named, and its metrics
are still compared.

Under each workload's table it prints the same medians, quartiles and
seed wins for every op kind's median latency (`per_kind_p50_ms`, read
from the facts line before each result), lower being better. These rows
carry no gate and no claim.
"""
import argparse
import glob
import json
import os
import re
import statistics
import sys

NAME = re.compile(r"^(?P<workload>.+)_(?P<seed>\d+)\.out$")


def load(side_dir):
    """{workload: {seed: result}} from one side's saved stdouts."""
    runs = {}
    for path in sorted(glob.glob(os.path.join(side_dir, "*.out"))):
        m = NAME.match(os.path.basename(path))
        if not m:
            continue
        lines = [l for l in open(path).read().splitlines() if l.strip()]
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"skipped {path}: its last line is no result JSON",
                  file=sys.stderr)
            continue
        try:
            kinds = json.loads(lines[-2])["facts"]["per_kind_p50_ms"]
        except (IndexError, KeyError, TypeError, json.JSONDecodeError):
            kinds = {}
        result["per_kind_p50_ms"] = kinds
        runs.setdefault(m["workload"], {})[int(m["seed"])] = result
    return runs


def value(result, metric):
    if metric.startswith("kind:"):
        v = result["per_kind_p50_ms"].get(metric[5:])
        return None if v is None else float(v)
    v = result.get("metrics", {}).get(metric)
    return None if v is None else float(v["value"])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def compare(parent, change, metric):
    """The summary row for one metric over the seeds both sides ran."""
    seeds = sorted(s for s in parent if s in change and
                   value(parent[s], metric["name"]) is not None and
                   value(change[s], metric["name"]) is not None)
    if not seeds:
        return None
    lower = metric["better"] == "lower"
    a = [value(parent[s], metric["name"]) for s in seeds]
    b = [value(change[s], metric["name"]) for s in seeds]
    wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
    ma, mb = statistics.median(a), statistics.median(b)
    rel = (mb - ma) / ma if ma else 0.0
    worse = rel if lower else -rel
    qa, qb = quartiles(a), quartiles(b)
    gain = (ma - mb) if lower else (mb - ma)
    apart = max(b) < min(a) if lower else min(b) > max(a)
    if worse > metric["bound"]:
        gate = "REGRESSED"
    elif ma and (qa[1] - qa[0]) / abs(ma) > metric["bound"] and not apart:
        gate = "unresolved"
    else:
        gate = "ok"
    return {
        "metric": metric["name"], "pairs": len(seeds), "wins": wins,
        "parent": (ma, qa), "change": (mb, qb), "rel": rel,
        "bound": metric["bound"], "gate": gate,
        "claim": "yes" if wins * 10 >= 9 * len(seeds) and
                 gain > qa[1] - qa[0] else "no",
    }


def fmt(m_q):
    m, (q1, q3) = m_q
    return f"{m:.4g} [{q1:.4g}, {q3:.4g}]"


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    a = ap.parse_args(argv)
    bench = json.load(open(a.benchmark))
    parent, change = load(a.parent_dir), load(a.change_dir)
    for side, runs in (("parent", parent), ("change", change)):
        bad = sorted(f"{w}_{s}" for w, rs in runs.items()
                     for s, r in rs.items() if not r.get("correct"))
        if bad:
            print(f"{side}: correct=false in {', '.join(bad)}")
    for w in bench["workloads"]:
        name = w["name"]
        if name not in parent or name not in change:
            continue
        rows = [r for r in (compare(parent[name], change[name], m)
                            for m in bench["end_to_end"]) if r]
        if not rows:
            continue
        print(f"\n{name}: {rows[0]['pairs']} seed pairs")
        print(f"  {'metric':<14} {'parent median [q1, q3]':<30} "
              f"{'change median [q1, q3]':<30} {'won':>6} {'change':>8} "
              f"{'bound':>6}  gate       claim")
        for r in rows:
            print(f"  {r['metric']:<14} {fmt(r['parent']):<30} "
                  f"{fmt(r['change']):<30} {r['wins']:>3}/{r['pairs']:<2} "
                  f"{r['rel']:>+8.1%} {r['bound']:>6.2f}  "
                  f"{r['gate']:<10} {r['claim']}")
        kinds = sorted({k for runs in (parent[name], change[name])
                        for r in runs.values() for k in r["per_kind_p50_ms"]})
        kind_rows = [r for r in (
            compare(parent[name], change[name],
                    {"name": f"kind:{k}", "better": "lower", "bound": 0.0})
            for k in kinds) if r]
        if kind_rows:
            print(f"  {'op kind p50 ms':<28} {'parent median [q1, q3]':<30} "
                  f"{'change median [q1, q3]':<30} {'won':>6} {'change':>8}")
        for r in kind_rows:
            print(f"  {r['metric'][5:]:<28} {fmt(r['parent']):<30} "
                  f"{fmt(r['change']):<30} {r['wins']:>3}/{r['pairs']:<2} "
                  f"{r['rel']:>+8.1%}")


if __name__ == "__main__":
    main(sys.argv[1:])
