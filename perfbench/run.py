"""graft's benchmark: one seeded workload against the keyed vector store.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (perfbench/build.py), runs the
workload in one JVM with Spark local[nproc], checks every answer against the
benchmark's own model of the table, and prints each metric with its unit and
sample count. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics; with --trace 1 they are the per-layer metrics, and the
run also writes its spans under .bench_build/perfbench/traces/.

A traced run first makes an untraced run of the same workload, seed and
seconds, and reports its own measured wall against that run's
(spark.trace_overhead_frac); the answers of both runs are checked and counted.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("serve", "ingest")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg() -> str:
    try:
        return Path("/proc/loadavg").read_text().strip()
    except OSError:
        return "unavailable"


def run_jvm(main: str, args: list, classes: Path, out: Path, timeout_s: int) -> str:
    """Runs one JVM; returns its standard output. Its standard error goes to a
    log file, shown only when the JVM fails."""
    out.mkdir(parents=True, exist_ok=True)
    (out / "tmp").mkdir(exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), main, *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(out / "spark-local"))
    log = out / "jvm.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=build.ROOT,
                                env=env, text=True)
        try:
            stdout, _ = proc.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: {main} did not finish within {timeout_s} s")
        finally:
            # never leave the JVM behind: on a timeout, SIGTERM or any error
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        sys.stderr.write(log.read_text()[-6000:])
        raise SystemExit(f"perfbench: {main} exited with {proc.returncode}")
    return stdout


def run_workload(classes: Path, workload: str, seed: int, seconds: int, trace: int,
                 deadline: float) -> dict:
    out = build.WORK / f"run-{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    try:
        stdout = run_jvm("perfbench.Main",
                         ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", str(trace), "--out", str(out)],
                         classes, out, max(10, int(deadline - time.time())))
        lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if not lines:
            raise SystemExit("perfbench: the JVM printed no result")
        result = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        if trace:
            traces = build.WORK / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            for f in out.glob("spans-*.jsonl"):
                shutil.copy(f, traces / f.name)
        return result
    finally:
        shutil.rmtree(out, ignore_errors=True)


def declared_metrics(trace: int):
    """Metric names BENCHMARK.json declares for this mode, if it is present."""
    spec = build.ROOT / "BENCHMARK.json"
    if not spec.exists():
        return None
    bench = json.loads(spec.read_text())
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    load_start = loadavg()

    classes = build.build()
    deadline = time.time() + JVM_TIMEOUT_S
    untraced = run_workload(classes, a.workload, a.seed, a.seconds, 0, deadline) if a.trace else None
    result = run_workload(classes, a.workload, a.seed, a.seconds, a.trace, deadline)
    metrics = result["metrics"]
    samples = result["samples"]
    runs = [result]
    if untraced:
        metrics["spark.trace_overhead_frac"] = {
            "value": result["total_s"] / untraced["total_s"] - 1.0, "unit": "ratio"}
        samples["spark.trace_overhead_frac"] = 1
        runs.append(untraced)  # its answers are checked too

    declared = declared_metrics(a.trace)
    if declared is not None and sorted(declared) != sorted(metrics):
        missing = sorted(set(declared) - set(metrics))
        extra = sorted(set(metrics) - set(declared))
        raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: missing {missing}, extra {extra}")

    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace} "
          f"cores {os.cpu_count()} wall {time.time() - start:.1f} s")
    print(f"loadavg start {load_start} | end {loadavg()}")
    for name, m in metrics.items():
        print(f"  {name:<40} {m['value']:>14.6g} {m['unit']:<7} n={samples.get(name, 0)}")
    for why in (w for r in runs for w in r["failures"]):
        print(f"  FAILED: {why}")
    print(json.dumps({"correct": all(r["correct"] for r in runs),
                      "attempted": sum(r["attempted"] for r in runs),
                      "failed": sum(r["failed"] for r in runs), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
