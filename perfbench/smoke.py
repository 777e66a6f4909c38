#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on small inputs.

    python3 perfbench/smoke.py

For every workload it runs the benchmark once on smoke-sized inputs
with every output check on (untraced and traced), and once more with a
deliberately wrong expected answer (`--poison 1`), which must make the
run report `"correct": false` and exit non-zero. Prints one line per
case and exits non-zero if any case misbehaves. Run from the checkout
root; takes a few minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("recsys_flow", "index_lifecycle")


def run(workload, trace, poison):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--smoke", "1", "--poison", str(poison)]
    p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = None
    return p.returncode, result, p.stderr


def main():
    bad = 0
    for w in WORKLOADS:
        for trace, poison in ((0, 0), (1, 0), (0, 1)):
            rc, res, err = run(w, trace, poison)
            want_ok = poison == 0
            ok = (res is not None and res["correct"] == want_ok
                  and (rc == 0) == want_ok and res["attempted"] >= 1
                  and (res["failed"] > 0) != want_ok)
            print(f"{'ok  ' if ok else 'FAIL'} {w} trace={trace} poison={poison} "
                  f"exit={rc} result={json.dumps(res)[:160] if res else None}")
            if not ok:
                bad += 1
                print(err[-3000:], file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
