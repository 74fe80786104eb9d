"""Self-test at toy scale: every workload runs one short pass and must
report all its checks passed; then each runs again with one exact answer
corrupted after set-up and must report that as failed operations.

    python3 perfbench/selftest.py

Exits 0 when every expectation holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("sketch_build", "window_resume", "ingest")
TOY = ["--seed", "7", "--seconds", "1", "--scale", "0.05"]


def run(workload: str, inject: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, *TOY]
    if inject:
        cmd.append("--inject-wrong-answer")
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ok = True
    for workload in WORKLOADS:
        for inject in (False, True):
            res = run(workload, inject)
            expected = (
                res["failed"] >= 1 and not res["correct"]
                if inject
                else res["failed"] == 0 and res["correct"]
            )
            ok &= expected
            print(
                f"{workload:14s} inject={inject!s:5s} attempted={res['attempted']:3d} "
                f"failed={res['failed']:2d} correct={res['correct']!s:5s} "
                f"{'ok' if expected else 'UNEXPECTED'}"
            )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
