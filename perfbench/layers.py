"""Print the traced per-layer table of every workload.

    python3 perfbench/layers.py [--seed N] [--workload NAME ...]

Runs ``perfbench/run.py --trace 1`` once per workload, one after the
other, and prints each run's per-layer counters (calls, self time, Spark
jobs, tasks, task time, shuffle-write bytes, spill bytes, driver gap) with
``trace.overhead_frac``: the median traced pass over the median untraced
pass of the same run, minus one (the Spark event log is on for both, so
its cost is not included). Exits non-zero if any run fails.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = p.parse_args(argv)
    rc = 0
    for name in args.workload or list(WORKLOADS):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", "1", "--trace", "1"]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
        print(f"== {name} (seed {args.seed})")
        if out.returncode != 0:
            print(out.stderr[-4000:], file=sys.stderr)
            print(f"   run failed with exit code {out.returncode}")
            rc = 1
            continue
        lines = out.stdout.splitlines()
        start = next((i for i, x in enumerate(lines) if x.startswith("# per-layer")), len(lines))
        for line in lines[start:-1]:
            print(line[2:])
        print()
    return rc


if __name__ == "__main__":
    sys.exit(main())
