#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's sources (``src/main/scala`` of the checkout) together
with the benchmark's own (``perfbench/src``, ``perfbench/tests``) into
``.bench_build/classes``,
with the Scala compiler that ships among Spark's jars. No dependency
resolution and no network: the classpath is Spark's jar directory, found
through ``SPARK_HOME`` or the installed ``pyspark`` package.

The build is skipped when a stamp of every source file matches the last
build. Usage::

    python3 perfbench/build.py [--root DIR]    # prints the run classpath
"""
import argparse
import hashlib
import os
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent


class BuildFailed(Exception):
    pass


def spark_jars():
    """Directory of Spark's jars (which include scala-compiler)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    try:
        import pyspark
        candidates.append(Path(pyspark.__file__).resolve().parent / "jars")
    except ImportError:
        pass
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")) and any(c.glob("spark-sql_*.jar")):
            return c
    raise BuildFailed("no Spark jar directory with scala-compiler found "
                     "(set SPARK_HOME or install pyspark)")


def sources(root):
    engine = root / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildFailed(f"engine sources not found: {engine}")
    files = (sorted(engine.rglob("*.scala")) + sorted((BENCH_DIR / "src").rglob("*.scala"))
             + sorted((BENCH_DIR / "tests").rglob("*.scala")))
    if not files:
        raise BuildFailed("no Scala sources")
    return files


def build(root):
    """Compiles if needed; returns the classpath to run the benchmark with."""
    root = Path(root).resolve()
    jars = spark_jars()
    files = sources(root)
    out = root / ".bench_build" / "classes"
    stamp_file = root / ".bench_build" / "classes.stamp"
    h = hashlib.sha256(str(jars).encode())
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classpath = f"{out}{os.pathsep}{jars}/*"
    if stamp_file.exists() and stamp_file.read_text() == stamp and out.is_dir():
        return classpath
    if out.exists():
        for p in sorted(out.rglob("*"), reverse=True):
            p.unlink() if p.is_file() else p.rmdir()
    out.mkdir(parents=True, exist_ok=True)
    argfile = root / ".bench_build" / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildFailed("scalac failed:\n" + r.stdout[-4000:])
    stamp_file.write_text(stamp)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", default=".", help="checkout to build (default: cwd)")
    a = ap.parse_args()
    try:
        print(build(a.root))
    except BuildFailed as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
