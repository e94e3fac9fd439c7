#!/usr/bin/env python3
"""Run one workload over several seeds and report, per end-to-end metric, the
median and the quartile spread (Q3 - Q1) / median over the runs, against the
metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload bag_relational --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec: str):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values = {}
    for s in seeds(a.seeds):
        cmd = ["python3", os.path.join(HERE, "run.py"), "--workload", a.workload, "--seed", str(s),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {s} failed:\n{out.stderr[-2000:]}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        # CPU steal over the run, from its record: a slow run on a shared
        # host usually shows it
        rec = next(t.split("=", 1)[1] for t in out.stdout.split() if t.startswith("record="))
        with open(os.path.join(ROOT, rec)) as f:
            steal = json.load(f)["host"]["steal_share"]
        print(f"seed {s}: correct={res['correct']} steal={steal:.3f} " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        print(f"{m['name']:16s} median={statistics.median(v):.4g} "
              f"spread={stats.quartile_spread(v):.3f} bound={m['bound']}")


if __name__ == "__main__":
    main()
