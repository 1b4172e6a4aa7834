"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload (the ones BENCHMARK.json declares and ``maintain``) at
``--scale tiny`` (sf0.001-sized inputs) and checks that:

* an untraced run prints exactly the ``end_to_end`` metrics, a traced run
  exactly the ``per_layer`` metrics, each with its declared unit;
* every run is correct, and the end-to-end values are positive;
* a run with ``--corrupt`` (one output damaged before its check) reports
  ``correct: false`` with at least one failed operation.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def _run(workload: str, trace: int, corrupt: bool = False) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
        "--seconds", "1", "--trace", str(trace), "--scale", "tiny",
    ]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    sys.path[:0] = [HERE, CHECKOUT]
    import workloads

    for w in sorted(workloads.WORKLOADS):
        for trace in (0, 1):
            r = _run(w, trace)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != declared[trace]:
                missing = sorted(set(declared[trace]) - set(got))
                extra = sorted(set(got) - set(declared[trace]))
                problems.append(f"{w} trace={trace}: missing {missing} extra {extra} or unit mismatch")
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                problems.append(f"{w} trace={trace}: not correct: {r['failed']}/{r['attempted']} failed")
            if trace == 0:
                zero = [k for k, v in r["metrics"].items() if not v["value"] > 0]
                if zero:
                    problems.append(f"{w}: end-to-end metrics not positive: {zero}")
            print(f"{w} trace={trace}: {len(got)} metrics, {r['attempted']} ops, ok", flush=True)
        r = _run(w, 0, corrupt=True)
        if r["correct"] or r["failed"] < 1:
            problems.append(f"{w}: a corrupted output was not counted as failed")
        print(f"{w} corrupt: {r['failed']}/{r['attempted']} failed, correct={r['correct']}", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
