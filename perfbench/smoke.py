"""The benchmark's own test: every workload on tiny inputs.

    python3 perfbench/smoke.py

For each workload, a timed and a traced run with ``--smoke`` must print
every end-to-end and per-layer metric with its unit, pass every cycle,
have verified every cycle, and count the same Spark jobs, stages and
exported rows in every cycle of both runs. A run that corrupts one
loaded table must count exactly that cycle as failed. Exits 0 when all
of this holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, OUT, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SEED = 7


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(OUT, f"{workload}-seed{SEED}-trace{trace}-smoke.json")) as f:
        return result, json.load(f)


def check(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def main() -> int:
    failures: list[str] = []
    for workload in WORKLOADS:
        counts = []
        for trace, units in ((0, END_TO_END), (1, PER_LAYER)):
            result, detail = bench(workload, trace)
            counts.append(detail["counts"])
            tag = f"{workload} trace={trace}"
            check(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys", failures)
            check(
                {k: v["unit"] for k, v in result["metrics"].items()} == units,
                f"{tag}: every metric printed with its unit", failures,
            )
            check(
                all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
                f"{tag}: every value is a number", failures,
            )
            check(result["correct"] and result["failed"] == 0, f"{tag}: every cycle passed", failures)
            check(
                detail["verified_cycles"] == result["attempted"] == len(detail["cycles"]),
                f"{tag}: verification ran on each of {result['attempted']} cycles", failures,
            )
        check(
            counts[0] == counts[1] and all(len(v) == 1 for v in counts[0].values()),
            f"{workload}: job, stage and row counts repeat exactly ({counts[0]})", failures,
        )
    result, detail = bench("subset_small", 0, "--corrupt-cycle", "1")
    bad = [c for c in detail["cycles"] if not c["ok"]]
    check(
        not result["correct"] and result["failed"] == 1 and [c["cycle"] for c in bad] == [1]
        and any("content hash" in p for p in bad[0]["problems"]),
        "a corrupted loaded table is counted as a failed cycle", failures,
    )
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
