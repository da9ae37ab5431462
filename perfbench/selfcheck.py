"""Tiny-size self-check of every workload in both modes.

    python3 perfbench/selfcheck.py

Runs run.py on a 300-page corpus for bfs_bulk, polite_horizon and
resume_steps, untraced and traced, and fails unless each run exits 0,
passes its oracle (and, traced, its replay-equality check), and emits
exactly the metric names and units BENCHMARK.json declares.  Takes a few
minutes: every run starts its own Spark JVM.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bfs_bulk", "polite_horizon", "resume_steps")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", "7",
                   "--seconds", "1", "--trace", str(trace), "--pages", "300", "--seeds", "80"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{wl} trace={trace}"
            before = len(problems)
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']} "
                                f"attempted={res['attempted']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != declared[trace]:
                problems.append(f"{tag}: metrics {sorted(got.items())} != declared {sorted(declared[trace].items())}")
            print(f"{tag}: {'ok' if len(problems) == before else 'FAILED'}", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
