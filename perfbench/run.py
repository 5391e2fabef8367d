#!/usr/bin/env python3
"""Link-graph benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_pages --seed 1 --seconds 15 --trace 0

The first run builds the engine and the benchmark from source with sbt (into
perfbench/target); later runs start the JVM straight from the exported
classpath. The last line of stdout is the result JSON.

    python3 perfbench/run.py --all [--seed N] [--seconds S]
        every workload, untraced then traced, with the tracing overhead
    python3 perfbench/run.py --selftest
        exact counts repeat across two runs on one seed; span coverage >= 90%
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp.txt")
WORKLOADS = ["crawl_pages", "ring_graph", "update_stream"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JAVA_OPTS = [
    # a fixed heap and young generation keep peak RSS comparable run to run
    "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
    "-XX:ParallelGCThreads=4",
    "-Djava.io.tmpdir=" + os.path.join(HERE, ".work", "tmp"),
    "-Dspark.ui.enabled=false",
] + [arg for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for arg in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads from the checkout."""
    found = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files]
    found += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(found)


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it; kill the whole
    group on timeout, or when this script is itself terminated."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def build():
    """Compile engine + benchmark unless the sources are unchanged."""
    want = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        # the Spark installation whose jars the engine compiles against
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
    code, _ = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr,
                          stdin=subprocess.DEVNULL)
    if code != 0:
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(want)


def run_once(workload, seed, seconds, trace, extra=()):
    """One benchmark JVM; returns (result dict, readable report lines)."""
    cp = open(CLASSPATH).read().strip()
    os.makedirs(os.path.join(HERE, ".work", "tmp"), exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + ["-cp", cp, "perfbench.Main", "--root", ROOT,
                                  "--workload", workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    cmd += list(extra)
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    if code is None:
        sys.exit(f"perfbench: {workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"perfbench: {workload} exited with code {code}")
    return json.loads(lines[-1]), [l for l in lines[:-1] if l.startswith("# ")]


def all_workloads(seed, seconds):
    """Every workload untraced, then traced: prints every metric by name and
    unit, and the tracing overhead on pass_s."""
    ok = True
    for w in WORKLOADS:
        plain, report = run_once(w, seed, seconds, False)
        print("\n".join(report))
        traced, treport = run_once(w, seed, seconds, True)
        print("\n".join(treport))
        overhead = traced["metrics"]["trace.pass_s"]["value"] - plain["metrics"]["pass_s"]["value"]
        print(f"# {w}: tracing overhead on pass_s {overhead:+.4f} s")
        ok = ok and plain["correct"] and traced["correct"]
    return ok


def exact_counts(report):
    """{name: value} of the report lines marked (exact)."""
    return {l.split()[1]: l.split()[2] for l in report if l.endswith("(exact)")}


def selftest():
    """Two back-to-back passes both pass their reference checks, every
    count marked exact repeats across two runs on one seed, layer spans
    cover >= 90% of each pass, and a traced run reports exactly the
    per_layer metrics of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        per_layer = {m["name"] for m in json.load(fh)["per_layer"]}
    failures = []
    for w in WORKLOADS:
        # update_stream passes are 9 batches each; one keeps a run in time
        passes = "1" if w == "update_stream" else "2"
        runs = [run_once(w, 7, 0, True, ["--passes", passes, "--setups", "1"]) for _ in range(2)]
        for result, report in runs:
            if not result["correct"] or result["failed"] or result["attempted"] < 2:
                failures.append(f"{w}: a pass failed its reference check")
            if set(result["metrics"]) != per_layer:
                failures.append(f"{w}: traced metrics differ from BENCHMARK.json per_layer")
            if result["metrics"]["trace.span_coverage"]["value"] < 0.9:
                failures.append(f"{w}: layer spans cover less than 90% of a pass")
        a, b = (exact_counts(report) for _, report in runs)
        if not a:
            failures.append(f"{w}: no exact counts reported")
        failures += [f"{w}: {k} is {a[k]} then {b.get(k)}" for k in a if a[k] != b.get(k)]
        log(f"{w}: {len(a)} exact counts compared")
    for f in failures:
        print("FAIL " + f)
    print("selftest " + ("passed" if not failures else "failed"))
    return not failures


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--passes", type=int, help="exactly this many timed passes")
    ap.add_argument("--setups", type=int, help="set-ups per run (default 3)")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: engine sources (src/main/scala/graft) not found next to perfbench/")
    build()
    if a.selftest:
        sys.exit(0 if selftest() else 1)
    if a.all:
        sys.exit(0 if all_workloads(a.seed, a.seconds) else 1)
    if not a.workload:
        ap.error("--workload is required")
    extra = []
    if a.passes is not None:
        extra += ["--passes", str(a.passes)]
    if a.setups is not None:
        extra += ["--setups", str(a.setups)]
    result, report = run_once(a.workload, a.seed, a.seconds, a.trace == 1, extra)
    print("\n".join(report))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
