#!/usr/bin/env python3
"""Self-test of the output check: run a workload against a copy of
expected.json with one operation's hash corrupted, and require that the run
reports the mismatch (``failed`` > 0, ``correct`` false).

    python3 perfbench/selftest.py [--workload star_ingest]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="star_ingest")
    args = p.parse_args(argv)
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    victim = sorted(expected[args.workload])[0]
    expected[args.workload][victim]["hash"] = "0"
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    corrupt = os.path.join(work, "expected-corrupted.json")
    with open(corrupt, "w") as fh:
        json.dump(expected, fh)
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload, "--seed", "1",
           "--seconds", "1", "--trace", "0", "--expected", corrupt]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        print(f"selftest: FAIL, run exited with {proc.returncode}")
        return 1
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    share = result["failed"] / result["attempted"]
    ok = share > 0 and not result["correct"]
    print(f"selftest: corrupted hash of {victim}: failed_share={share:.4f} correct={result['correct']} "
          f"-> {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
