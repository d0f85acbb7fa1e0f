#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload <name> --seeds 1-10

Run from the repository root. Runs `perfbench/run.py` once per seed
(untraced, for BENCHMARK.json's `run_seconds`) and prints its wall time
and metrics, then prints, for each end-to-end metric, its median,
quartiles and spread (inter-quartile distance as a share of the median),
next to the metric's bound from BENCHMARK.json. A spread above a third of the bound is flagged: the
benchmark is then too noisy to gate that metric.
"""

import argparse
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values = {}
    for seed in seeds_of(a.seeds):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            print(f"seed {seed}: output check failed", file=sys.stderr)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed} ({time.monotonic() - t0:.0f} s): " + ", ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, q2, q3 = stats.quartiles(xs)
        s = stats.spread(xs)
        flag = "" if s <= m["bound"] / 3 else "  <-- above a third of the bound"
        print(f"{a.workload:13s} {m['name']:12s} median {q2:.4g} q1 {q1:.4g} q3 {q3:.4g} "
              f"spread {s:.3f} bound {m['bound']}{flag}")


if __name__ == "__main__":
    main()
