"""Tracing overhead and shape facts for one workload and seed.

    python3 perfbench/overhead.py --workload pages_small --seed 2

Runs the benchmark twice, untraced then traced, from the repository
root and prints, per end-to-end metric, the traced value minus the
untraced one, followed by the traced run's shape facts (vertex count,
tiers, superstep counts, mean R fraction, IVF file counts).
"""

import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: str, trace: int) -> list[str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", seconds, "--trace", str(trace)],
        capture_output=True, text=True, check=True, cwd=os.path.dirname(HERE),
    )
    return out.stdout.splitlines()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["pages_small", "ivf_rw"])
    ap.add_argument("--seed", type=int, default=2)
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()
    e2e = {}
    for trace in (0, 1):
        lines = run(args.workload, args.seed, args.seconds, trace)
        for line in lines:
            parts = line.split()
            if parts[:1] == ["end_to_end"]:
                e2e.setdefault(parts[1], []).append((float(parts[2]), parts[3]))
    for name, ((off, unit), (on, _)) in e2e.items():
        print(f"overhead {name} {on - off:+.4f} {unit} ({(on - off) / off:+.1%} of {off:.4f})")
    for line in lines:
        if line.startswith(("shape ", "problem ")):
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
