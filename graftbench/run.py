#!/usr/bin/env python3
"""graft benchmark runner.

Builds the engine and the harness from source (offline sbt, Spark jars from
the local Spark install), then runs one seeded workload in one JVM with one
local[4] SparkSession.

    python3 graftbench/run.py --workload jx_interactive --seed 1 --seconds 10 --trace 0
    python3 graftbench/run.py --selftest
    python3 graftbench/run.py --steadiness --runs 10
    python3 graftbench/run.py --overhead --runs 3

A run is two JVMs: the first writes the seeded inputs, the second starts
cold and measures. Run from the root of a checkout. Build output, scratch data and traces stay
under .bench_build/ in the checkout; each run's scratch directory is removed
when the run ends. The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "target", "scala-2.13", "classes")
STAMP = os.path.join(OUT, "build.stamp")
WORKLOADS = ["jx_interactive", "jx_analytic", "etl_ingest", "llm_dedup"]
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 900

# JDK 17 module opens Spark needs outside spark-submit (as in the engine's
# own build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[graftbench] " + msg, file=sys.stderr, flush=True)


def spark_jars():
    """The Spark install's jars: $SPARK_HOME/jars, else next to the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home or "", "jars")


def sources():
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def up_to_date():
    if not (os.path.isdir(CLASSES) and os.path.exists(STAMP)):
        return False
    with open(STAMP) as fh:
        return fh.read().strip() == stamp()


def build(deadline):
    """Compile engine + harness with sbt (the caller checks up_to_date)."""
    want = stamp()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    sbt = shutil.which("sbt")
    if not sbt or not os.path.isdir(spark_jars()):
        log("sbt and a Spark install (SPARK_HOME) are required to build")
        return False
    cmd = [sbt, "-batch", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true", "-Dgraftbench.sparkJars=" + spark_jars(),
           "compile"]
    log("building engine and harness: " + " ".join(cmd))
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, stdin=subprocess.DEVNULL,
                           timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("build timed out")
        return False
    if p.returncode != 0 or not os.path.isdir(os.path.join(CLASSES, "graftbench")):
        log("build failed")
        return False
    with open(STAMP, "w") as fh:
        fh.write(want)
    log("built in %.0f s" % (time.time() - t0))
    return True


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_jvm(main_args, work, deadline):
    """Run graftbench.Main; returns (exit code, stdout lines)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), "-Xms3g", "-Xmx3g", "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
            "graftbench.Main", "--work", work] + main_args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                         stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        sys.exit(128 + signum)
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        out, _ = p.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        log("run timed out")
        return 1, []
    return p.returncode, out.splitlines()


def one_run(args):
    start = time.time()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log("engine sources not found under " + ENGINE_SRC)
        return 3
    fresh = up_to_date()
    deadline = start + (RUN_LIMIT_S if fresh else BUILD_LIMIT_S - 20)
    if not fresh and not build(deadline):
        return 4
    work = os.path.join(OUT, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    try:
        if args.selftest:
            code, lines = run_jvm(["--selftest"], work,
                                  time.time() + BUILD_LIMIT_S)
            print("\n".join(lines))
            return code
        inputs = ["--workload", args.workload, "--seed", str(args.seed)]
        code, _ = run_jvm(["--generate"] + inputs, work, deadline)
        if code != 0:
            log("input generation failed (exit %d)" % code)
            return code or 1
        main_args = inputs + ["--seconds", str(args.seconds),
                              "--trace", str(args.trace)]
        if args.trace:
            traces = os.path.join(OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            main_args += ["--spans", os.path.join(
                traces, "%s-seed%d.json" % (args.workload, args.seed))]
        code, lines = run_jvm(main_args, work, deadline)
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if code != 0 or not isinstance(result, dict) or \
                set(result) != {"correct", "attempted", "failed", "metrics"}:
            log("run failed (exit %d)" % code)
            return code or 1
        for line in lines[:-1]:
            print(line)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---- multi-run modes -------------------------------------------------------

def invoke(workload, seed, seconds, trace):
    """One run as a child process, exactly as a standalone invocation."""
    p = subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines:
        return None, None
    report = next((json.loads(l.split(" ", 1)[1]) for l in lines
                   if l.startswith("graftbench-report ")), None)
    return json.loads(lines[-1]), report


def quartiles(values):
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def steadiness(args):
    """Two sets of runs of the same tree: per workload x end-to-end metric,
    each set's quartiles, the spread (q3 - q1) / median against the bound
    (and a third of it), and the second median's drift against the bound.
    Every run is also appended to .bench_build/steadiness.jsonl."""
    spec = bench_spec()
    metrics = spec["end_to_end"]
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    records, nsets = [], 2
    raw = os.path.join(OUT, "steadiness.jsonl")
    os.makedirs(OUT, exist_ok=True)
    for s in range(nsets):
        for w in workloads:
            for i in range(args.runs):
                seed = 1000 * (s + 1) + i
                t0 = time.time()
                result, report = invoke(w, seed, spec["run_seconds"], 0)
                rec = {"set": s, "workload": w, "seed": seed,
                       "wall_s": time.time() - t0, "result": result,
                       "report": report}
                records.append(rec)
                with open(raw, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
                log("set %d %s seed %d: %s in %.0f s" % (
                    s + 1, w, seed, "no result" if result is None else
                    "%d/%d failed" % (result["failed"], result["attempted"]),
                    rec["wall_s"]))
    ok = True
    print("%-15s %-15s %3s %3s %12s %12s %12s %8s %6s %8s  %s" % (
        "workload", "metric", "set", "n", "q1", "median", "q3", "spread",
        "bound", "drift", "verdict"))
    for w in workloads:
        for m in metrics:
            meds = []
            for s in range(nsets):
                v = [r["result"]["metrics"][m["name"]]["value"] for r in records
                     if r["set"] == s and r["workload"] == w and r["result"]
                     and m["name"] in r["result"]["metrics"]]
                if not v:
                    continue
                q1, med, q3 = quartiles(v)
                spread = (q3 - q1) / med if med else float("inf")
                meds.append(med)
                verdict, drift = "ok", ""
                if spread > m["bound"]:
                    verdict, ok = "SPREAD>BOUND", False
                elif spread > m["bound"] / 3:
                    verdict = "spread>bound/3"
                if len(meds) > 1:
                    worse = (med - meds[0]) if m["better"] == "lower" else (meds[0] - med)
                    d = worse / meds[0] if meds[0] else float("inf")
                    drift = "%+.3f" % d
                    if d > m["bound"]:
                        verdict, ok = "DRIFT>BOUND", False
                print("%-15s %-15s %3d %3d %12.4f %12.4f %12.4f %8.3f %6.2f %8s  %s" % (
                    w, m["name"], s + 1, len(v), q1, med, q3, spread, m["bound"],
                    drift, verdict))
    bad = [r for r in records if r["workload"] in workloads and
           (r["result"] is None or not r["result"]["correct"])]
    if bad:
        ok = False
        print("runs without a correct result: %d" % len(bad))
    print("steadiness: %s" % ("within bounds" if ok else "OUT OF BOUNDS"))
    return 0 if ok else 1


def overhead(args):
    """Tracing overhead: each end-to-end metric traced minus untraced, on
    the same seeds."""
    spec = bench_spec()
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    print("%-15s %-28s %12s %12s %10s" % ("workload", "metric", "untraced",
                                         "traced", "overhead"))
    for w in workloads:
        per = {0: {}, 1: {}}
        for i in range(args.runs):
            for trace in (0, 1):
                _, report = invoke(w, 500 + i, spec["run_seconds"], trace)
                if report is None:
                    continue
                for name, m in report["end_to_end"].items():
                    per[trace].setdefault(name, []).append(m["value"])
        for name in sorted(per[0]):
            a = statistics.median(per[0][name])
            b = statistics.median(per[1].get(name, [float("nan")]))
            rel = "%+9.1f%%" % (100 * (b - a) / a) if a else "n/a"
            print("%-15s %-28s %12.4f %12.4f %10s" % (w, name, a, b, rel))
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--steadiness", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args()
    if args.steadiness:
        return steadiness(args)
    if args.overhead:
        return overhead(args)
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    return one_run(args)


if __name__ == "__main__":
    sys.exit(main())
