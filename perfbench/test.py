"""Runs the benchmark's own tests (perfbench/src/perfbench/SelfTest.scala):
interval-union and driver-gap arithmetic, the tail rule and the model
checker. Exits non-zero on any failure.

    python3 perfbench/test.py
"""
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

if __name__ == "__main__":
    classes = build.build()
    sys.exit(subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(classes),
                             "perfbench.SelfTest"], cwd=build.ROOT).returncode)
