#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

Runs ``run.py --damage 1`` for each workload: the first timed operation
has one committed row corrupted (a value changed in a committed parquet
file for the pipelines, one row dropped before the noop sink for the
catalog), and the run must report exactly that operation as failed and
``correct: false``.  Exits non-zero if any workload's checks miss it.

    python3 etlbench/selftest.py [workload ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> int:
    names = argv or ["ingest", "join_pivot", "catalog"]
    bad = 0
    for w in names:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", "7", "--seconds", "1", "--trace", "0", "--damage", "1"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
        )
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
        ok = res.get("failed") == 1 and res.get("correct") is False
        bad += not ok
        print(f"{'PASS' if ok else 'FAIL'} {w}: exit {proc.returncode}, "
              f"attempted {res.get('attempted')}, failed {res.get('failed')}, "
              f"correct {res.get('correct')}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
