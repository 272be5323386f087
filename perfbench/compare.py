#!/usr/bin/env python3
"""Compares two sets of benchmark runs (A/B, or A/A for a noise check).

    python3 perfbench/compare.py A.json B.json [--traced T.json]
    python3 perfbench/compare.py A.json          # one set: spread per metric

A and B are files written by series.py (workload -> runs). For each workload
and end-to-end metric it reports each side's median, quartiles and n, then a
verdict:

- gain: B wins at least 9/10 of the pairs (A[i], B[i]), ties counting for
  neither, and the medians differ by more than A's interquartile range;
- regression: B's median is worse than A's by more than the metric's bound;
- unresolved: either side's spread (IQR / median) exceeds the bound, unless
  every run of B reads better than every run of A;
- no regression: otherwise.

Bounds and directions come from BENCHMARK.json. Quartiles are Python's
`statistics.quantiles(values, n=4)`. With `--traced`, it also reports the
tracing overhead: the traced runs' `trace.op_p50_s` and
`trace.throughput_per_s` against the untraced medians of A.

Exit status: 1 if any verdict is `regression` or `unresolved`, else 0.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"]}


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def better(a, b, direction):
    """True when value b is better than value a."""
    return b < a if direction == "lower" else b > a


def verdict(a_vals, b_vals, direction, bound):
    """Verdict for one metric; returns (verdict, facts)."""
    a, b = summary(a_vals), summary(b_vals)
    pairs = list(zip(a_vals, b_vals))
    wins = sum(1 for x, y in pairs if better(x, y, direction))
    gap = b["median"] - a["median"]
    worse_by = (gap if direction == "lower" else -gap) / a["median"] if a["median"] else 0.0
    dominates = all(better(x, y, direction) for x in a_vals for y in b_vals)
    facts = {"A": a, "B": b, "pairs": len(pairs), "B_wins": wins, "worse_by": worse_by}
    if pairs and wins >= 0.9 * len(pairs) and abs(gap) > (a["q3"] - a["q1"]) \
            and better(a["median"], b["median"], direction):
        return "gain", facts
    if worse_by > bound:
        return "regression", facts
    if (a["spread"] > bound or b["spread"] > bound) and not dominates:
        return "unresolved", facts
    return "no regression", facts


def values(runs, metric):
    return [r["line"]["metrics"][metric]["value"] for r in runs
            if r.get("line") and metric in r["line"]["metrics"]]


def compare(a_set, b_set, bench):
    rows = []
    for w in sorted(set(a_set) & set(b_set)):
        for name, m in bench.items():
            av, bv = values(a_set[w], name), values(b_set[w], name)
            if not av or not bv:
                continue
            v, facts = verdict(av, bv, m["better"], m["bound"])
            rows.append({"workload": w, "metric": name, "verdict": v, **facts})
    return rows


def overhead(untraced, traced):
    out = {}
    for w in sorted(set(untraced) & set(traced)):
        for e2e, tr in (("op_p50_s", "trace.op_p50_s"), ("throughput_per_s", "trace.throughput_per_s")):
            u, t = values(untraced[w], e2e), values(traced[w], tr)
            if u and t:
                out[f"{w}.{e2e}"] = statistics.median(t) / statistics.median(u) - 1
    return out


def spreads(runs, bench):
    """Prints each metric's spread (IQR / median) against its bound; returns
    1 if a spread other than setup_s exceeds its bound."""
    bad = 0
    for w in sorted(runs):
        for name, m in bench.items():
            v = values(runs[w], name)
            if not v:
                continue
            s = summary(v)
            over = s["spread"] > m["bound"]
            bad |= over and name != "setup_s"
            print(f"{w:<11} {name:<17} n={s['n']:<3} median={s['median']:<10.4g} "
                  f"q1={s['q1']:<10.4g} q3={s['q3']:<10.4g} spread={s['spread']:.3f} "
                  f"bound={m['bound']}{'  OVER' if over else ''}")
    return int(bad)


def main():
    ap = argparse.ArgumentParser(description="A/B or A/A comparison of benchmark runs")
    ap.add_argument("a")
    ap.add_argument("b", nargs="?")
    ap.add_argument("--traced")
    args = ap.parse_args()
    with open(args.a) as f:
        a_set = json.load(f)
    bench = load_bench()
    if args.b is None:
        sys.exit(spreads(a_set, bench))
    with open(args.b) as f:
        b_set = json.load(f)
    rows = compare(a_set, b_set, bench)
    print(f"{'workload':<11} {'metric':<17} {'A median [q1,q3] n':<34} "
          f"{'B median [q1,q3] n':<34} {'wins':>5} {'worse':>7}  verdict")
    for r in rows:
        fa, fb = r["A"], r["B"]
        print(f"{r['workload']:<11} {r['metric']:<17} "
              f"{fa['median']:<9.4g} [{fa['q1']:.4g},{fa['q3']:.4g}] {fa['n']:<3} "
              f"sp={fa['spread']:.3f}  "
              f"{fb['median']:<9.4g} [{fb['q1']:.4g},{fb['q3']:.4g}] {fb['n']:<3} "
              f"sp={fb['spread']:.3f}  {r['B_wins']:>2}/{r['pairs']:<2} {r['worse_by']:>+7.3f}  "
              f"{r['verdict']}")
    if args.traced:
        with open(args.traced) as f:
            for k, v in overhead(a_set, json.load(f)).items():
                print(f"tracing overhead {k}: {v:+.3f}")
    sys.exit(1 if any(r["verdict"] in ("regression", "unresolved") for r in rows) else 0)


if __name__ == "__main__":
    main()
