#!/usr/bin/env python
"""One-shot verification sweep — everything CI (or the judge) runs,
in the order a human would want failures reported.

Usage: python tools/verify_all.py [--fast]

--fast skips the Tier-1 pytest suite (26-40 min on 4 cores, under its
2,670 s timeout) and the bench, leaving the correctness/plan/fuzz
gates (~5 min).  Exit 0 iff every gate passes; each gate's tail is
echoed either way.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

# every gate runs from the root of the checkout this file belongs to
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# scale-factor tables, relative to that repo root
TESTDATA = "../testdata"


def main() -> int:
    gates: list[tuple[str, list[str]]] = [
        *((f"strict oracle ({sf}, all queries)",
           [sys.executable, "tools/check_strict.py", f"{TESTDATA}/{sf}"])
          for sf in ("sf0.001", "sf0.01")),
        ("plan audit", [sys.executable, "tools/plan_audit.py"]),
        # seed-0 differential fuzz (~90 s): the dirty-input gate is cheap
        # enough for the fast sweep, and it is where the r6 oracle gaps
        # were found — don't let --fast skip it
        ("differential fuzz (seed 0)",
         [sys.executable, "tools/fuzz_oracle.py", "--seed", "0"]),
    ]
    if "--fast" not in sys.argv[1:]:
        gates = [
            # the Tier-1 command: every core, local dirs, hard timeout
            ("pytest suite (Tier-1)",
             ["env", f"SPARK_GRAFT_CPUS={len(os.sched_getaffinity(0))}",
              "SPARK_LOCAL_DIRS=/tmp/spark-local", "timeout", "-k", "10",
              "2670", sys.executable, "-m", "pytest", "tests/", "-q",
              "--continue-on-collection-errors", "-p", "no:cacheprovider"]),
            *gates,
            ("bench (sf0.1)", [sys.executable, "bench.py"]),
        ]
    failures = []
    for name, cmd in gates:
        t0 = time.time()
        r = subprocess.run(cmd, cwd=REPO, capture_output=True,
                           text=True)
        took = time.time() - t0
        lines = [ln for ln in (r.stdout + r.stderr).strip().splitlines()
                 if ln.strip() and not ln.lstrip().startswith("[Stage")]
        tail = "\n".join(lines[-3:])
        status = "PASS" if r.returncode == 0 else "FAIL"
        print(f"[{status}] {name} ({took:.0f}s)\n{tail}\n")
        if r.returncode != 0:
            failures.append(name)
    if failures:
        print(f"FAILED gates: {failures}")
        return 1
    print(f"all {len(gates)} gates green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
