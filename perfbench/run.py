#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload overnight --seed 1 --seconds 10 --trace 0

Workloads: overnight, research_sweep, query_suite (see perfbench/README.md).
Builds the engine and the benchmark first if their sources changed
(perfbench/build.py), then runs the benchmark JVM on a local Spark session
with one core per CPU. Everything it writes goes under ``.bench_build/``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). The exit code is 0
only if every output check passed.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("overnight", "research_sweep", "query_suite")
# A run must end within 180 s; the JVM is stopped well before that, so the
# oracle compare that follows it still fits.
JVM_TIMEOUT_S = 150

# Spark on JDK 17 needs these outside spark-submit (as in the engine's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classpath, root, out, a, launched_ms):
    bb = root / ".bench_build"
    (bb / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={bb / 'tmp'}",
           f"-Dspark.hadoop.hadoop.tmp.dir={bb / 'tmp'}",
           f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false",
           f"-Dspark.local.dir={bb / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={bb / 'warehouse'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--out", str(out), "--launched-ms", str(launched_ms)]


def run_jvm(cmd, log_path, cwd, timeout_s):
    """Runs the JVM, echoing its report lines; returns (rc, result line)."""
    result = None
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        deadline = time.monotonic() + timeout_s

        def kill(*_):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        old = signal.signal(signal.SIGALRM, kill)
        signal.alarm(timeout_s)
        try:
            for line in p.stdout:
                if line.startswith("RESULT "):
                    result = line[len("RESULT "):].strip()
                elif line.startswith(("report ", "layer ", "check failed")):
                    print(line.rstrip(), flush=True)
        finally:
            signal.alarm(0)
            signal.signal(signal.SIGALRM, old)
            rc = p.wait()
            if time.monotonic() > deadline:
                print(f"benchmark JVM killed after {timeout_s} s", file=sys.stderr)
    return rc, result


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = Path.cwd()
    try:
        classpath = build.build(root)
    except build.BuildFailed as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)

    out = root / ".bench_build" / "out" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out.mkdir(parents=True, exist_ok=True)
    log_path = out / "jvm.log"
    # setup_s counts from here: JVM launch, session start, inputs, warm-up
    launched_ms = int(time.time() * 1000)
    rc, line = run_jvm(jvm_command(classpath, root, out, a, launched_ms), log_path, root,
                       JVM_TIMEOUT_S)
    if rc != 0 or line is None:
        tail = log_path.read_text(errors="replace")[-3000:]
        print(f"benchmark JVM failed (exit {rc}); log tail:\n{tail}", file=sys.stderr)
        sys.exit(1)
    result = json.loads(line)

    manifest = out / "work" / "results" / "oracle.json"
    if a.workload == "query_suite":
        if not manifest.exists():
            print("check failed: no query results to compare", flush=True)
            result["correct"] = False
            result["failed"] = result["attempted"]
        else:
            import oracle
            fails, n = oracle.check_manifest(manifest)
            print(f"report {'oracle_queries_matched':<32} {n - len(fails):14d} count  n={n}",
                  flush=True)
            for q, why in sorted(fails.items()):
                print(f"check failed: oracle {q}: {why}", flush=True)
            if fails:
                result["correct"] = False
                result["failed"] = min(result["attempted"], result["failed"] + len(fails))

    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
