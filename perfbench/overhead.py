"""Tracing overhead: run one workload untraced and traced on the same seed and
print traced minus untraced for each measured part (``batch_s``, ``loop_s``).

    python3 perfbench/overhead.py --workload dag_lake --seed 1 --seconds 5
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _run(args, trace: int) -> dict:
    cmd = [
        sys.executable, RUN, "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout.splitlines()
    if trace:
        line = next(x for x in out if x.startswith("perfbench.end_to_end "))
        return json.loads(line.split(" ", 1)[1])
    return json.loads(out[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    args = p.parse_args()
    plain, traced = _run(args, 0), _run(args, 1)
    out = {"workload": args.workload, "seed": args.seed, "unit": "s"}
    for part in ("batch_s", "loop_s"):
        out[part] = plain[part]["value"]
        out[f"traced_{part}"] = traced[part]["value"]
        out[f"tracing_overhead_{part}"] = traced[part]["value"] - plain[part]["value"]
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
