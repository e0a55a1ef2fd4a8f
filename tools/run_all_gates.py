"""One-command gate runner: tests + benchmark self-tests + oracle parity +
plan audit + bench.

Usage: python tools/run_all_gates.py
Exit code nonzero if any gate fails; bench JSON printed last.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(name: str, cmd: list[str], env: dict[str, str] | None = None) -> bool:
    print(f"=== {name}: {' '.join(cmd)}")
    r = subprocess.run(cmd, cwd=ROOT, env=env)
    ok = r.returncode == 0
    print(f"=== {name}: {'PASS' if ok else 'FAIL'}\n")
    return ok


def main() -> int:
    # Spark sessions run on the host's own cores (nproc) with a fixed Spark
    # scratch dir; the tests gate is the ROADMAP Tier-1 command: no pytest
    # cache, inside the 2670 s window; --durations lists the 25 slowest
    # tests so every run shows where tier-1 time goes
    host_env = {**os.environ, "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
                "SPARK_LOCAL_DIRS": "/tmp/spark-local"}
    results = [
        run("tests", ["timeout", "-k", "10", "2670", sys.executable, "-m", "pytest",
                      "tests/", "-q", "--continue-on-collection-errors",
                      "-p", "no:cacheprovider", "--durations=25"], env=host_env),
        run("perfbench", [sys.executable, "-m", "pytest", "perfbench/tests", "-q",
                          "-p", "no:cacheprovider"]),
        run("oracle", [sys.executable, "tools/check_oracle.py"], env=host_env),
        run("plans", [sys.executable, "tools/audit_plans.py"]),
        run("bench", [sys.executable, "bench.py"], env=host_env),
    ]
    print("ALL GATES:", "PASS" if all(results) else "FAIL")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
