#!/usr/bin/env python3
"""Runs the benchmark several times and collects the printed results into
one JSON file, the input of compare.py.

    python3 perfbench/series.py --out runs.json --workloads olap_star,nrt_ingest \
        --seeds 1-10 [--trace 0] [--cores N]

Each run is `run.py` with one seed; runs of one workload go one after the
other, never side by side. The file maps workload -> list of
{"seed", "trace", "line", "wall_s"}; `line` is the run's printed result.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def bench_seconds():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, default=0)
    a = ap.parse_args()
    seconds = bench_seconds()
    result = {}
    if os.path.exists(a.out):
        with open(a.out) as f:
            result = json.load(f)
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                   "--seconds", str(seconds), "--trace", str(a.trace)]
            if a.cores:
                cmd += ["--cores", str(a.cores)]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            line = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            if line is None:
                sys.stderr.write(p.stderr[-2000:])
            result.setdefault(w, []).append({"seed": s, "trace": a.trace, "line": line, "wall_s": wall})
            brief = {k: round(v["value"], 4) for k, v in (line or {}).get("metrics", {}).items()}
            print(f"{w} seed={s} exit={p.returncode} wall={wall:.0f}s "
                  f"correct={line and line['correct']} {brief}", flush=True)
            with open(a.out, "w") as f:
                json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
