#!/usr/bin/env python3
"""Compares two sets of benchmark runs, one row per workload and metric.

    python3 perfbench/compare.py BASE NEW
    python3 perfbench/compare.py RUNS        # spread of one set

With one argument, prints for each workload and end-to-end metric the
median, the quartiles and the spread (quartile distance over median)
beside a third of the metric's bound: the steadiness the benchmark
aims for.

BASE and NEW are each a file written by `run.py --save`, a JSON list of
such records, or a directory of them. Records of untraced runs carry
end-to-end metrics; their medians are compared against the bound that
BENCHMARK.json fixes for the metric, and a metric whose own spread
(quartile distance over median, either side) exceeds the bound is
reported as unresolved. Records of traced runs carry per-layer metrics;
counts are compared exactly between runs of the same seed (the seed's
query order moves some of them), and a count that takes two values
within one side's runs of a seed is reported as not repeating; times are
shown with their change.

Exit code 1 when an end-to-end metric is worse than its bound or a
count differs between runs of the same seed, else 0.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from metrics import spread  # noqa: E402

# per-layer metrics that repeat exactly on identical code and input
COUNTS = [
    "exec.jobs", "exec.stages", "exec.tasks", "plans.exchanges",
    "plans.graft_nodes", "ops.build_jobs", "shuffle.write_bytes",
    "shuffle.read_bytes", "sources.bytes_written", "sources.rows_written",
    "sources.files_written", "streaming.batches", "scan.rows_read",
]


def load(path):
    if os.path.isdir(path):
        recs = []
        for f in sorted(os.listdir(path)):
            if f.endswith(".json"):
                recs += load(os.path.join(path, f))
        return recs
    with open(path) as f:
        data = json.load(f)
    return data if isinstance(data, list) else [data]


def group(records, by_seed=False):
    """{(workload, trace): {metric: [values]}}, or with `by_seed`
    {(workload, trace, seed): ...}"""
    out = {}
    for r in records:
        key = (r["workload"], r["trace"]) + ((r["seed"],) if by_seed else ())
        for name, m in r["line"]["metrics"].items():
            out.setdefault(key, {}).setdefault(name, []).append(m["value"])
    return out


def bounds():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m for m in bench["end_to_end"]}


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def count_verdict(pairs):
    """Verdict on one count from (base values, new values) pairs, one
    pair per seed both sides ran. A count that takes two values on one
    side of a pair does not repeat on identical code and input, so it
    cannot be compared exactly."""
    if not pairs:
        return "no common seed"
    if any(set(x) != set(y) and len(set(x)) == len(set(y)) == 1 for x, y in pairs):
        return "DIFFERS"
    if any(len(set(x)) > 1 or len(set(y)) > 1 for x, y in pairs):
        return "does not repeat"
    return "same"


def compare(base, new, e2e_bounds):
    """Returns (rows, regressed). Each row is a list of cells."""
    rows, regressed = [], False
    b, n = group(base), group(new)
    bs, ns = group(base, by_seed=True), group(new, by_seed=True)
    for key in sorted(set(b) & set(n)):
        workload, trace = key
        for metric in sorted(set(b[key]) & set(n[key])):
            bv, nv = b[key][metric], n[key][metric]
            bm, nm = statistics.median(bv), statistics.median(nv)
            change = (nm - bm) / bm if bm else (0.0 if nm == bm else float("inf"))
            if not trace:
                bound = e2e_bounds[metric]["bound"] if metric in e2e_bounds else None
                lower = e2e_bounds.get(metric, {}).get("better", "lower") == "lower"
                worse = change if lower else -change
                wide = bound is not None and any(len(s) >= 4 and spread(s) > bound
                                                 for s in (bv, nv))
                if bound is None:
                    verdict = ""
                elif wide and not (max(nv) < min(bv) if lower else min(nv) > max(bv)):
                    verdict = "unresolved"
                elif worse > bound:
                    verdict, regressed = "WORSE", True
                elif worse < -bound:
                    verdict = "better"
                else:
                    verdict = "within bound"
                rows.append([workload, metric, fmt(bm), fmt(nm), f"{change:+.1%}",
                             f"{bound}" if bound is not None else "", verdict])
            else:
                if metric in COUNTS:
                    verdict = count_verdict(
                        [(bs[k][metric], ns[k][metric]) for k in sorted(bs)
                         if k[:2] == key and k in ns and metric in ns[k]])
                    regressed |= verdict == "DIFFERS"
                else:
                    verdict = ""
                rows.append([workload, metric, fmt(bm), fmt(nm),
                             f"{change:+.1%}" if bm else "", "", verdict])
    return rows, regressed


def spreads(records, e2e_bounds):
    rows = []
    for (workload, trace), ms in sorted(group(records).items()):
        for metric, vals in sorted(ms.items()):
            if trace or metric not in e2e_bounds or len(vals) < 4:
                continue
            q = statistics.quantiles(vals, n=4)
            rows.append([workload, metric, str(len(vals)), fmt(statistics.median(vals)),
                         f"{fmt(q[0])}..{fmt(q[2])}", f"{spread(vals):.3f}",
                         f"{e2e_bounds[metric]['bound'] / 3:.3f}"])
    return rows


def main(argv):
    if len(argv) == 2:
        rows = spreads(load(argv[1]), bounds())
        head = ["workload", "metric", "runs", "median", "quartiles", "spread",
                "bound/3"]
        regressed = False
    elif len(argv) == 3:
        rows, regressed = compare(load(argv[1]), load(argv[2]), bounds())
        head = ["workload", "metric", "base", "new", "change", "bound", "verdict"]
    else:
        print(__doc__, file=sys.stderr)
        return 2
    widths = [max(len(str(r[i])) for r in rows + [head]) for i in range(len(head))]
    for r in [head] + rows:
        print("  ".join(str(c).ljust(w) for c, w in zip(r, widths)).rstrip())
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
