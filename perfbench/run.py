#!/usr/bin/env python3
"""graft benchmark: validate, quarantine and prep_pipeline in tokens/s.

Usage (from the repository root):

  python3 perfbench/run.py --workload validate --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --all          # every workload, then the traced run
  python3 perfbench/run.py --selftest     # the same at tiny scale, in minutes

The first run compiles the repository and the harness with sbt. Each run
starts one driver JVM at local[nproc], generates the seeded corpus (cached
under perfbench/work by workload, size and seed), and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list. The exit code is non-zero when any output check fails.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
JAVAOPTS = os.path.join(TARGET, "javaopts.txt")  # the repository build's JVM options
WORKLOADS = ["validate", "quarantine", "prep_pipeline"]
# the repository build's fixed, pre-touched heap flags, resized: 4 GB with
# half of it a fixed young generation instead of the build's driver heap
HEAP_FLAGS = ["-Xmx4g", "-Xms4g", "-Xmn2g"]
KEEP_CORPORA = 36
BUILD_TIMEOUT = 850
RUN_TIMEOUT = 175


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compiles the repository and the harness unless the classpath is current."""
    if (os.path.exists(CLASSPATH) and os.path.exists(JAVAOPTS)
            and os.path.getmtime(CLASSPATH) >= newest_source_mtime()):
        return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    print("perfbench: building with sbt ...", file=sys.stderr, flush=True)
    log = os.path.join(TARGET, "build.log")
    os.makedirs(TARGET, exist_ok=True)
    with open(log, "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                       HERE, out, BUILD_TIMEOUT)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}", 3)


def run_child(cmd, cwd, out, timeout, env=None):
    """Runs cmd in its own process group; kills the group on timeout and
    waits until it has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def prune_corpora():
    root = os.path.join(WORK, "corpora")
    if not os.path.isdir(root):
        return
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_CORPORA:]:
        shutil.rmtree(d, ignore_errors=True)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(workload, seed, seconds, trace, scale):
    """Runs one benchmark JVM; returns its result dict."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    with open(JAVAOPTS) as f:
        build_opts = [o for o in f.read().splitlines()
                      if o and not o.startswith(("-Xmx", "-Xms", "-Xmn"))]
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    result = os.path.join(WORK, f"result-{workload}-{seed}-{trace}.json")
    if os.path.exists(result):
        os.remove(result)
    flags = build_opts + HEAP_FLAGS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
    ]
    cmd = ["java"] + flags + ["-cp", cp, "perfbench.Main",
                              "--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", str(trace),
                              "--work", WORK, "--scale", scale, "--result", result]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    env.pop("SPARK_GRAFT_MASTER", None)
    log = os.path.join(WORK, f"jvm-{workload}-{trace}.log")
    with open(log, "w") as out:
        rc = run_child(cmd, ROOT, out, RUN_TIMEOUT, env)
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM failed (exit {rc}); log in {log}", 4)
    with open(result) as f:
        return json.load(f)


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


def select_metrics(spec, res, trace, workload):
    """The metrics BENCHMARK.json lists for this mode, with their units."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"{workload}: metric {m['name']} missing or not finite: {v}", 5)
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def one_run(spec, workload, seed, seconds, trace, scale="full"):
    build()
    prune_corpora()
    res = run_jvm(workload, seed, seconds, trace, scale)
    record = dict(res.get("record", {}), workload=workload, trace=trace, scale=scale,
                  git_commit=git_commit(), host_load1m=os.getloadavg()[0])
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"record": record, "result": res}) + "\n")
    return res, record


def summary_line(workload, res):
    m = res["metrics"]
    return (f"{workload:14s} tokens_per_s={m['tokens_per_s']:.4g} tok/s "
            f"(median of {int(m['samples'])} jobs, job {m['job_s']:.3f} s)  "
            f"executor_cpu_s={m['executor_cpu_s']:.4g} s  "
            f"peak_task_mem_mb={m['peak_task_mem_mb']:.4g} MB  setup_s={m['setup_s']:.4g} s  "
            f"failed_frac={m['failed_frac']:.4g}")


def trace_summary(res):
    m = res["metrics"]
    lines = [f"{w:14s} traced: job {m[w + '.job_s']:.3f} s, sweep {m[w + '.trace.sweep_s']:.3f} s, "
             f"tracing overhead {m[w + '.trace.overhead_s']:.3f} s" for w in WORKLOADS]
    return "\n".join(lines + [f"trace written to {res.get('trace_file')}"])


def run_all(spec, seed, seconds, scale="full"):
    """Every workload end to end, then the traced run; exit 1 on any failure."""
    ok = True
    for w in WORKLOADS:
        res, rec = one_run(spec, w, seed, seconds, 0, scale)
        print(summary_line(w, res), flush=True)
        for p in res.get("problems", []):
            print(f"  CHECK FAILED: {p}")
        ok &= res["correct"]
    res, rec = one_run(spec, WORKLOADS[0], seed, seconds, 1, scale)
    for p in res.get("problems", []):
        print(f"  CHECK FAILED: {p}")
    print(trace_summary(res))
    ok &= res["correct"]
    print("perfbench: all checks passed" if ok else "perfbench: CHECKS FAILED")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="run every workload and the traced run")
    ap.add_argument("--selftest", action="store_true", help="--all at tiny scale")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the graft sources are not beside perfbench/ (expected build.sbt and "
             "src/main/scala/graft at the repository root)")
    spec = load_spec()
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    if args.selftest:
        sys.exit(run_all(spec, args.seed, 2, "tiny"))
    if args.all:
        sys.exit(run_all(spec, args.seed, seconds))
    if args.workload is None:
        fail("--workload is required (or --all / --selftest)")

    start = time.time()
    res, record = one_run(spec, args.workload, args.seed, seconds, args.trace)
    print(trace_summary(res) if args.trace else summary_line(args.workload, res))
    for p in res.get("problems", []):
        print(f"CHECK FAILED: {p}")
    print("run_record: " + json.dumps(dict(record, wall_s=round(time.time() - start, 3))))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": select_metrics(spec, res, args.trace, args.workload)}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
