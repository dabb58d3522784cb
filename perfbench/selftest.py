#!/usr/bin/env python3
"""Show that the output checks catch a one-row corruption.

    python3 perfbench/selftest.py [--workloads tail_cow,maintain]

Runs each workload at its smallest size with ``--corrupt``, which changes
one stored row (a transcript's text, or one word count of the maintained
vocabulary) after the timed section and before the checks. Passes when
every such run reports ``correct: false``, at least one failed operation,
and a non-zero exit code.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="backfill,tail_cow,tail_mor_serve,maintain")
    ap.add_argument("--seed", type=int, default=3)
    args = ap.parse_args()
    ok = True
    for w in args.workloads.split(","):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(args.seed),
             "--seconds", "1", "--trace", "0", "--corrupt"],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
        caught = p.returncode != 0 and res.get("correct") is False and res.get("failed", 0) >= 1
        reasons = [ln for ln in p.stderr.splitlines() if ln.startswith("perfbench: FAILED")]
        print(f"{w}: {'caught' if caught else 'NOT CAUGHT'} rc={p.returncode} "
              f"failed={res.get('failed')}/{res.get('attempted')} {reasons[:2]}")
        ok &= caught
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
