#!/usr/bin/env python3
"""Runs the benchmark's own tests (perfbench/tests/SelfTest.scala).

Usage, from the root of a checkout::

    python3 perfbench/tests/run_tests.py

Builds like the benchmark does, then runs the tests on the build's
classpath. Exit code 0 if every test passed.
"""
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build  # noqa: E402


def main():
    try:
        classpath = build.build(Path.cwd())
    except build.BuildFailed as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    sys.exit(subprocess.run(["java", "-cp", classpath, "perfbench.SelfTest"]).returncode)


if __name__ == "__main__":
    main()
