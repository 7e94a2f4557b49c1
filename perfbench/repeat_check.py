"""Check that the traced counters repeat exactly.

Runs the traced run (`--trace 1`) of a workload twice with the same seed
and lists every per-layer counter whose two values differ. Wall-clock
counters (`*_ms`, `*.plan_share`, `trace.overhead_pct`) are expected to differ and are
not compared. A claim resting on a counter needs that counter to repeat.

    python3 perfbench/repeat_check.py --workload dw_daily --seed 1
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced(workload, seed):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "1", "--trace", "1"],
                         stdout=subprocess.PIPE, check=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    a, b = traced(args.workload, args.seed), traced(args.workload, args.seed)
    timed = [k for k in a if k.endswith(("_ms", "plan_share")) or k == "trace.overhead_pct"]
    varying = {k: [a[k]["value"], b[k]["value"]] for k in a
               if k not in timed and a[k]["value"] != b[k]["value"]}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "compared": len(a) - len(timed), "varying": varying}, indent=1))


if __name__ == "__main__":
    main()
