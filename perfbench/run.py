#!/usr/bin/env python3
"""Benchmark of the graft validation engine.

Builds the engine together with the benchmark harness from source (sbt, once
per source state, output under .bench_build/), then runs one workload in a
fresh JVM and relays its result. The last line of standard output is the
result object; the line before it (prefixed PERFBENCH_DETAIL) carries the
input descriptor, environment, run quality, per-operation times and, for
traced runs, count exactness and the ledger check.

usage: python3 perfbench/run.py --workload W|all --seed N --seconds S --trace 0|1

Workloads and metrics are described in BENCHMARK.json at the checkout root.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(WORK, "target", "classpath.txt")
STAMP_FILE = os.path.join(WORK, "build.stamp")
WORKLOADS = ["transcript_suite", "kye_model"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark 4 on JDK 17 outside spark-submit (same list as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, as sorted paths."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    digest = source_digest()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == digest:
                return digest
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-Dsbt.global.base=" + os.path.join(WORK, "sbt-global"), "compile", "writeClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S, text=True)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH_FILE):
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(STAMP_FILE, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return digest


def expected_metrics(trace):
    """Metric names of BENCHMARK.json for this mode, or None without it."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


CHILD = {}


def stop_child(*_):
    """Kills the running JVM's process group (it holds any grandchildren)."""
    proc = CHILD.pop("proc", None)
    if proc is not None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def run_jvm(cmd, timeout):
    """Runs a JVM in its own process group; returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    CHILD["proc"] = proc
    try:
        out, _ = proc.communicate(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        stop_child()
        fail(f"run exceeded its {timeout:.0f}s budget", 1)
    stop_child()
    return proc.returncode, out


def clean_stale_runs():
    """Removes run directories of JVMs that no longer exist (killed runs)."""
    runs = os.path.join(WORK, "run")
    if os.path.isdir(runs):
        for pid in os.listdir(runs):
            if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
                shutil.rmtree(os.path.join(runs, pid), ignore_errors=True)


def cpu_stat():
    """'total,steal' CPU jiffies of the VM, for the steal share of set-up."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f"{sum(f[:8])},{f[7] if len(f) > 7 else 0}"


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown" if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_workload(workload, seed, seconds, trace):
    """One fresh JVM on one workload: returns (exit code, output lines)."""
    clean_stale_runs()
    # the build (first run in a checkout only) has its own budget
    deadline = time.time() + RUN_TIMEOUT_S
    with open(CLASSPATH_FILE) as fh:
        classpath = fh.read().strip()
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    jvm = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # fixed heap and young-generation sizes: peak RSS then does not depend
        # on how far G1 chose to grow them in a given run
        "-Xms2g", "-Xmx2g", "-Xmn1g", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        "-Dspark.local.dir=" + os.path.join(WORK, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse"),
        "-cp", classpath,
    ]
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", WORK, "--nproc", str(nproc),
            "--classpath", classpath, "--commit", commit()]
    code, out = run_jvm(jvm + ["perfbench.Bench"] + args + ["--launch-stat", cpu_stat(),
                                                            "--launch-ms", str(int(time.time() * 1000))],
                        deadline - time.time())
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if not lines or not lines[-1].startswith("{"):
        fail(f"{workload}: no result (JVM exit {code})", 1)
    result = json.loads(lines[-1])
    names = expected_metrics(trace == 1)
    if names is not None and sorted(names) != sorted(result["metrics"]):
        fail("printed metrics differ from BENCHMARK.json: "
             f"{sorted(set(names) ^ set(result['metrics']))}", 3)
    return (0 if code == 0 and result["correct"] else 1), lines[:-1] + [json.dumps(result)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"],
                    help="'all' runs every workload in turn")
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    build()
    if a.workload != "all":
        code, lines = run_workload(a.workload, a.seed, a.seconds, a.trace)
        print("\n".join(lines))
        sys.exit(code)
    # every workload: its lines, then one result whose metrics are prefixed
    # with the workload name
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    worst = 0
    for w in WORKLOADS:
        code, lines = run_workload(w, a.seed, a.seconds, a.trace)
        worst = max(worst, code)
        print("\n".join(lines[:-1]))
        r = json.loads(lines[-1])
        for m, v in r["metrics"].items():
            print(f"{w} {m} = {v['value']:.6g} {v['unit']}")
        total["correct"] &= r["correct"]
        total["attempted"] += r["attempted"]
        total["failed"] += r["failed"]
        total["metrics"].update({f"{w}.{m}": v for m, v in r["metrics"].items()})
    print(json.dumps(total))
    sys.exit(worst)


if __name__ == "__main__":
    main()
