#!/usr/bin/env python3
"""Self-test of the correctness check: run ingest_daily with one stage row
rewritten before the last day's check, and require that the check fires
(nonzero exit, correct=false, failed > 0).

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def main():
    p = subprocess.run([sys.executable, RUN, "--workload", "ingest_daily", "--seed", "7",
                        "--seconds", "1", "--trace", "0", "--corrupt"],
                       stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    ok = p.returncode != 0 and result.get("correct") is False and result.get("failed", 0) > 0
    print(f"selftest: exit {p.returncode}, result {result.get('correct')}, "
          f"failed {result.get('failed')}/{result.get('attempted')} -> "
          f"{'PASS' if ok else 'FAIL'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
