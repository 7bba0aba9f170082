"""Smoke test of the benchmark itself, at tiny size.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced on a 3,000-row table
with a one-second window, then once more with ``--corrupt``. Checks that:

- each run exits 0 and its last line is the result object with exactly
  the keys ``correct``, ``attempted``, ``failed`` and ``metrics``;
- the metrics are exactly those BENCHMARK.json names for the mode
  (``end_to_end`` untraced, ``per_layer`` traced), each with its unit;
- every output passes its correctness check;
- a deliberately wrong estimate fails the check: with ``--corrupt`` every
  job counts as failed and ``correct`` is false.

Exits 0 when all checks pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ROWS = 3000


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--rows", str(ROWS), *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}")
    lines = [line for line in p.stdout.splitlines() if line.strip()]
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(result)}")
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    failures = []
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            res = run(wl, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                failures.append(f"{wl} trace={trace}: metrics differ: "
                                f"missing {sorted(set(want[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(want[trace]))}, "
                                f"units {[(k, got[k], u) for k, u in want[trace].items() if k in got and got[k] != u]}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                failures.append(f"{wl} trace={trace}: correctness {res['correct']}, "
                                f"{res['failed']}/{res['attempted']} failed")
            print(f"ok {wl} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} outputs checked", flush=True)
    first = bench["workloads"][0]["name"]
    res = run(first, 0, "--corrupt")
    if res["correct"] or res["failed"] != res["attempted"] or res["attempted"] < 1:
        failures.append(f"{first} --corrupt: a wrong estimate was not caught "
                        f"({res['failed']}/{res['attempted']} failed)")
    else:
        print(f"ok {first} --corrupt: {res['failed']}/{res['attempted']} failed")
    for f in failures:
        print(f"SMOKE FAILURE {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
