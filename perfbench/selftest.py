"""Self-test of the benchmark's output check: with one expected row
corrupted, every workload must report the run incorrect and a
non-zero failed fraction.

    python3 perfbench/selftest.py [workload ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> int:
    bad = 0
    for workload in argv or ["sync_incremental", "queries_hot"]:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", "0", "--corrupt-expected"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
        frac = result.get("failed", 0) / max(result.get("attempted", 1), 1)
        ok = result.get("correct") is False and frac > 0
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {workload}: exit {proc.returncode}, "
              f"correct {result.get('correct')}, failed_frac {frac:.3g}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
