#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <olap_star|nrt_ingest>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the benchmark from
source (once per source state, with sbt), generates the workload's inputs from
the seed, runs the workload in a forked JVM sized from this machine, checks
the engine's outputs against an independent computation, and prints one JSON
line: `correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` they are the per-layer ones
from a traced run. The full result, with its environment, is also written
under `.bench_build/results/`. See perfbench/README.md for the workloads.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("olap_star", "nrt_ingest")
DEADLINE_S = 175

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Workload parameters. Inputs are sized so that one run (set-up, warm-up,
# measurement, checks) stays well inside the per-run time limit on a 4-core
# box; they are recorded in every result file.
PARAMS = {
    "olap_star": {"sf": 0.002, "setup_reps": 3, "sink_days": 12, "sink_rows_per_day": 500,
                  "sink_commits": 4},
    "nrt_ingest": {"sf": 0.002, "setup_reps": 5, "rows_per_file": 10, "trigger_s": 2.0,
                   "max_files_per_trigger": 20, "warm_files": 60,
                   "nominal_files_per_s": 5.0, "overload_files_per_s": 20.0,
                   "nominal_share": 0.8, "lateness_limit_ms": 250.0},
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    """Cores this process may run on (what `nproc` reports)."""
    return len(os.sched_getaffinity(0))


def heap():
    """The launch heap: MemTotal / 2 GiB in whole GiB, clamped to [2, 8]."""
    g = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return f"{g}g"


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine and benchmark with sbt when the sources changed since
    the last build in this checkout; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(p.stdout)
    cp = [ln for ln in p.stdout.splitlines() if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cp:
        log(f"build failed (exit {p.returncode}); see {BUILD}/build.log")
        sys.exit(3)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1].strip()


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def make_inputs(workload, seed, data, p):
    """Generates the workload's inputs under `data`; returns what the checks
    need to know about them."""
    star = os.path.join(data, "star")
    rows = gen.star_tables(star, seed, p["sf"])
    if workload == "olap_star":
        sink = gen.sink_table(os.path.join(data, "sink_table.txt"), seed, p["sink_days"],
                              p["sink_rows_per_day"], p["sink_commits"])
        return {"rows": rows, "sink_rows": sink}
    n_files = p["warm_files"] + p["n_measured_files"]
    return {"expected_ids": gen.nrt_inputs(os.path.join(data, "nrt"), seed, star, n_files,
                                           p["rows_per_file"])}


def nrt_schedule(p, seconds):
    """Files the open-loop generator publishes: a nominal step then an
    overload step, together `seconds` long."""
    t_nom = seconds * p["nominal_share"]
    n_nom = int(round(t_nom * p["nominal_files_per_s"]))
    n_hi = int(round((seconds - t_nom) * p["overload_files_per_s"]))
    return n_nom, n_hi


def run_jvm(cp, workload, seed, seconds, trace, data, work, p, n_cores, deadline):
    out = os.path.join(work, "jvm_result.json")
    args = ["--workload", workload, "--data", data, "--work", work, "--seconds", str(seconds),
            "--trace", str(trace), "--seed", str(seed), "--cores", str(n_cores), "--out", out]
    for k, v in p.items():
        args += [f"--{k}", str(v)]
    opens = [x for pkg in JDK17_OPENS for x in ("--add-opens", f"{pkg}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby"] + opens +
           ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log("JVM exceeded the run deadline and was killed")
    if not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        log(f"JVM wrote no result (exit {proc.returncode}):\n{tail}")
        return None
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="override the machine's core count (e.g. 1 for the single-thread reference)")
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + DEADLINE_S

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources at {ROOT}: run from the repository root of a full checkout")
        sys.exit(2)
    cp = build()
    deadline = max(deadline, time.time() + DEADLINE_S - 20)

    p = dict(PARAMS[a.workload])
    if a.workload == "nrt_ingest":
        n_nom, n_hi = nrt_schedule(p, a.seconds)
        p["n_nominal_files"], p["n_measured_files"] = n_nom, n_nom + n_hi
    n_cores = a.cores or cores()
    work = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        t0 = time.time()
        inputs = make_inputs(a.workload, a.seed, data, p)
        gen_s = time.time() - t0
        raw = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data, work, p, n_cores, deadline)
        if raw is None or "fatal" in raw:
            if raw is not None:
                log(f"workload failed: {raw['fatal']}")
            sys.exit(4)
        errors, facts = checks.check(a.workload, raw, inputs, data, ROOT)
        result = metrics.compute(a.workload, raw, facts, inputs, p, a.trace, errors)
        env = {"git_sha": git_sha(), "cores": n_cores, "heap": heap(),
               "java": raw.get("java_version"), "spark": raw.get("spark_version"),
               "max_heap_mb": raw.get("max_heap_mb"), "workload": a.workload, "seed": a.seed,
               "seconds": a.seconds, "trace": a.trace, "params": p, "input_gen_s": gen_s,
               "wall_s": time.time() - t_start}
        os.makedirs(os.path.join(ROOT, ".bench_build", "results"), exist_ok=True)
        res_path = os.path.join(ROOT, ".bench_build", "results",
                                f"{a.workload}-s{a.seed}-t{a.trace}-{int(t_start)}.json")
        with open(res_path, "w") as f:
            json.dump({"env": env, "errors": errors, "detail": result["detail"],
                       "line": result["line"]}, f, indent=1, default=str)
        for e in errors:
            log(f"check failed: {e}")
        print(json.dumps(result["line"]))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
