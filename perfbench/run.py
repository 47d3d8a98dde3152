#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the harness from source (once per source state,
cached under .bench_build/), generates the workload's inputs from the seed
into a fresh run directory under .bench_runs/, runs the harness JVM on
min(nproc, 4) Spark cores, checks every operation's output, and prints one
JSON object as the last line of standard output. With --trace 0 it holds
the end-to-end metrics, with --trace 1 the per-layer metrics. See
perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import check  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_runs")
RUN_TIMEOUT_S = 170

# Input sizes per workload. Changing one changes the benchmark.
PARAMS = {
    "batch_read": {"sf": 0.01, "events": 10_000, "docs": 60, "factor": 8,
                   "queries": 64},
    "lake_write": {"base_rows": 10_000, "batches": 16, "batch_rows": 200,
                   "slices": 30, "per_slice": 1_000},
}
SETUPS = 3
END_TO_END = ["setup_s", "pass_s", "op_p50_s", "op_p90_s", "peak_rss_mb"]
UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
         "peak_rss_mb": "MB"}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    pats = ["src/main/scala/**/*.scala", "perfbench/src/main/scala/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/build.properties"]
    files = sorted({f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)})
    if not any("/src/main/scala/graft/" in f for f in files):
        fail("no library sources under src/main/scala: run from the root of a checkout")
    return files


def build():
    """Compile library + harness with sbt when the sources changed; cache
    the runtime classpath. Returns the classpath string."""
    files = source_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            with open(os.path.join(BUILD, "stamp")) as fh:
                if fh.read() == stamp and os.path.exists(cp_file):
                    with open(cp_file) as c:
                        return c.read().strip()
        except FileNotFoundError:
            pass
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as lf:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=800)
        with open(log) as lf:
            lines = lf.read().splitlines()
        cps = [ln for ln in lines if "scala-2.13/classes" in ln and ":" in ln
               and not ln.startswith("[")]
        if r.returncode != 0 or not cps:
            sys.stderr.write("\n".join(lines[-30:]) + "\n")
            fail(f"build failed (log: {log})")
        with open(cp_file, "w") as c:
            c.write(cps[-1])
        with open(os.path.join(BUILD, "stamp"), "w") as s:
            s.write(stamp)
        return cps[-1]


def cores():
    return max(1, min(os.cpu_count() or 1, len(os.sched_getaffinity(0)), 4))


def heap():
    # a quarter of memory, between 2 and 6 GiB
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        kb = 8 << 20
    return f"{max(2, min(6, kb // (4 << 20)))}g"


def run_harness(cp, args, run_dir, input_dir):
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores()), "--input", input_dir, "--run-dir", run_dir,
           "--setups", str(SETUPS)]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/harness.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=run_dir)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {RUN_TIMEOUT_S}s (log: {run_dir}/harness.log)")
    if rc != 0:
        with open(f"{run_dir}/harness.log") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited {rc}")
    with open(f"{run_dir}/harness.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    # cold state: every run starts from empty inputs, scratch and local dirs
    shutil.rmtree(RUNS, ignore_errors=True)
    run_dir = os.path.join(RUNS, f"{args.workload}-s{args.seed}-t{args.trace}")
    input_dir = os.path.join(run_dir, "input")
    t0 = time.time()
    gen.generate(args.workload, args.seed, input_dir, PARAMS[args.workload])
    gen_s = time.time() - t0
    res = run_harness(cp, args, run_dir, input_dir)

    verdicts = check.check_all(f"{run_dir}/check", input_dir)
    bad = {name for name, errs in verdicts.items() if errs}
    if res.get("check_error"):
        bad.add("<check phase>")
    failed_ops = res["failed_ops"]
    attempted = int(res["attempted"])
    ops = res["ops"]
    # an operation whose output is wrong fails every time it ran
    failed = sum(failed_ops.values()) + sum(
        ops[n]["calls"] - failed_ops.get(n, 0) for n in bad if n in ops)
    if bad - set(ops):
        failed += 1
    error_rate = failed / max(1, attempted)

    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores(),
        "gen_s": round(gen_s, 3), "samples": res["samples"], "passes": res["passes"],
        "setups_s": res["setups_s"], "passes_s": res["passes_s"],
        "passes_steal": res["passes_steal"], "passes_timed": res["passes_timed"],
        "error_rate": error_rate,
        "check_failures": {n: verdicts.get(n, [res.get("check_error")])[:3] for n in sorted(bad)},
        "end_to_end": res["end_to_end"], "ops": ops,
    }
    if args.trace:
        detail["per_layer"] = res["per_layer"]
    print(json.dumps(detail))

    if args.trace:
        layer = {k: v for k, v in res["per_layer"].items() if not k.startswith("_")}
        layer["error_rate"] = error_rate
        metrics = {k: {"value": v, "unit": check.layer_unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
