"""Metric computation from one run's raw measurements.

BENCHMARK.json names the metrics, with units; this module computes them.
End-to-end metrics carry the same names on every workload; what the
"operation" is differs per workload (see README.md):

  olap_star   op = one Q1-Q10 query (plan + execute);
  nrt_ingest  op = a row's freshness (due -> first poller result holding
              it) at the nominal rate.

Throughput (olap_star: queries and pruned reads per second; nrt_ingest:
input rows per second of micro-batch execution) and the median read latency
(a manifest-pruned read; the poller's star aggregate) are computed too but
kept in the result file only: across seeds they spread wider than any
allowed bound (see README.md).
"""
import json
import os
import statistics

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def bench_metrics():
    """(end-to-end, per-layer) metric lists of BENCHMARK.json, as name -> unit."""
    with open(BENCH) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Linear-interpolated quantile of `xs` (q in [0, 1])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(len(s) - 1, lo + 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def compute(workload, raw, facts, inputs, params, trace, errors):
    """{"line": the printed result, "detail": everything else worth keeping}."""
    if workload == "nrt_ingest":
        op, read, throughput, detail = nrt_figures(raw, inputs, params)
    else:
        op, read, throughput = raw["op_s"], raw["read_s"], raw["throughput_per_s"]
        detail = {}
    end_to_end, per_layer = bench_metrics()
    setups = raw["setup_s"]
    e2e = {
        "setup_s": median(setups),
        "op_p50_s": median(op),
        "op_p90_s": quantile(op, 0.9),
        "throughput_per_s": throughput,
        "read_p50_s": median(read),
    }
    layers = {k: 0.0 for k in per_layer}
    layers.update({k: v for k, v in raw.get("layers", {}).items() if k in per_layer})
    for name, times in raw.get("setup_artifacts_s", {}).items():
        if f"setup.{name}_s" in layers:
            layers[f"setup.{name}_s"] = median(times)
    if workload == "olap_star":
        layers["olap.result_rows"] = facts.get("result_rows", 0)
    layers.update(detail.get("layers", {}))
    layers["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    layers["trace.op_p50_s"] = e2e["op_p50_s"]
    layers["trace.throughput_per_s"] = e2e["throughput_per_s"]

    attempted = int(raw["attempted"])
    failed = int(raw["failed"]) + len(errors) + int(detail.get("failed", 0))
    chosen, units = (layers, per_layer) if trace else (e2e, end_to_end)
    line = {"correct": not errors and failed == 0 and not detail.get("invalid"),
            "attempted": max(1, attempted), "failed": failed,
            "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units}}
    detail.update({"end_to_end": e2e, "layers": layers, "samples": {"op": len(op), "read": len(read)},
                   "error_rate": failed / max(1, attempted), "facts": facts,
                   "setup_runs_s": setups, "raw_extra": {k: raw[k] for k in ("pass_s", "op_names", "op_s", "read_s") if k in raw}})
    return {"line": line, "detail": detail}


def nrt_figures(raw, inputs, params):
    """Freshness, poller latency and capacity from the generator's, the
    poller's and the sink's timelines (all in ms on the JVM's clock).

    Files are the stream's atomic unit, so every committed table state holds
    a prefix of the delivered files: a poll that counted n rows has seen
    every file f with cum[f] <= n, where cum is the running count of rows
    each file must commit. A poll count that is no such prefix is an
    error."""
    counts = [len(ids) for ids in inputs["expected_ids"]]
    cum, total = [], 0
    for c in counts:
        total += c
        cum.append(total)
    prefix = {n: f for f, n in enumerate(cum)}
    warm = params["warm_files"]
    n_nom = params["n_nominal_files"]
    due, written = raw["due_ms"], raw["written_ms"]
    polls = raw["polls"]
    detail = {"layers": {}, "failed": 0, "invalid": []}
    bad = [p for p in polls if p[1] > 0 and int(p[1]) not in prefix]
    if bad:
        detail["failed"] += len(bad)
        detail["invalid"].append(f"{len(bad)} polls saw a table that is not a prefix of the stream")

    fresh = []
    for i in range(n_nom):
        g = warm + i
        seen = next((p[0] for p in polls if p[1] >= cum[g]), None)
        if seen is None:
            detail["failed"] += 1
            continue
        fresh += [(seen - due[i]) / 1000.0] * counts[g]

    lateness = [w - d for d, w in zip(due, written)]
    late_p99 = quantile(lateness, 0.99)
    if late_p99 > params["lateness_limit_ms"]:
        detail["invalid"].append(f"generator fell behind: lateness p99 {late_p99:.0f} ms")

    # Ingest capacity: input rows per second of micro-batch execution
    # (`triggerExecution`) over every data batch of the measured window.
    # Busy time, not wall time, so the trigger's idle wait does not cap it.
    # With a fixed trigger the batch sizes are set by the schedule (about
    # 10 files at the nominal rate, the 20-file cap under overload), so the
    # mix is the same on every run.
    busy = [(b[1], b[2]) for b in raw["batches"]
            if b[0] >= raw["measure_start_ms"] and b[1] > 0 and b[2] > 0]
    full = 0.8 * params["max_files_per_trigger"] * params["rows_per_file"]
    n_full = sum(1 for b in raw["batches"] if b[0] >= raw["overload_start_ms"] and b[1] >= full)
    w_rows = sum(r for r, _ in busy)
    w_s = sum(t for _, t in busy) / 1000.0
    throughput = w_rows / w_s if w_s else 0.0
    if n_full < 1:
        detail["invalid"].append("the overload step never filled a batch: raise its rate")
    commits = sorted(raw["commits"])

    base = cum[warm - 1] if warm else 0

    def files_committed(t):
        n = base + sum(c[1] for c in commits if c[0] <= t)
        return max([f + 1 for f, c in enumerate(cum) if c <= n], default=0)

    def backlog(t):
        return warm + sum(1 for w in written if w <= t) - files_committed(t)

    detail["layers"].update({
        "gen.lateness_p99_ms": late_p99,
        "gen.rows_offered": len(due) * params["rows_per_file"],
        "sources.backlog_files": backlog(due[-1]) if due else 0,
    })
    detail["freshness"] = {"p50_s": median(fresh), "p90_s": quantile(fresh, 0.9),
                           "p99_s": quantile(fresh, 0.99), "rows": len(fresh)}
    detail["capacity"] = {"batches": len(busy), "full_batches": n_full, "rows": w_rows,
                          "busy_s": w_s}
    detail["timeline"] = {k: raw[k] for k in ("measure_start_ms", "overload_start_ms", "due_ms",
                                              "written_ms", "polls", "commits", "batches")}
    measured_polls = [p[2] / 1000.0 for p in polls if p[0] >= raw["measure_start_ms"]]
    return fresh, measured_polls, throughput, detail
