"""Steadiness check: runs the benchmark once per seed on each workload and
reports, for every end-to-end metric, the median and the spread (distance
between the first and third quartile as a share of the median) against the
metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1 2 3 4 5 6 7 8 9 10 [--workloads serve ingest] [--out FILE]

Exits non-zero when a run fails or prints an incorrect result, or when a
spread reaches a third of its bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary, ok = {}, True
    for w in a.workloads:
        values = {name: [] for name in bounds}
        for seed in a.seeds:
            cmd = [*spec["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {seed}: run failed (exit {p.returncode})\n{p.stderr[-2000:]}")
                return 1
            r = json.loads(last)
            if not r["correct"] or r["failed"]:
                print(f"{w} seed {seed}: {r['failed']} of {r['attempted']} operations failed")
                ok = False
            for name in bounds:
                values[name].append(r["metrics"][name]["value"])
            print(f"{w} seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
                  flush=True)
        summary[w] = {}
        for name, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            steady = spread < bounds[name] / 3
            ok &= steady
            summary[w][name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                "bound": bounds[name], "values": xs}
            print(f"  {w:<7} {name:<20} median {med:<12.6g} spread {spread:7.2%} "
                  f"bound {bounds[name]:.0%} {'ok' if steady else 'TOO WIDE'}")
    if a.out:
        Path(a.out).write_text(json.dumps(summary, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
