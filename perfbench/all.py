#!/usr/bin/env python3
"""Run every workload of BENCHMARK.json, untraced and traced, with one seed,
and print one summary line per run:

    python3 perfbench/all.py [--seed 1] [--seconds <run_seconds>]

Exits non-zero unless every run completes with every output check passing
and no failed operation.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import json
import os
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()
    ok = True
    for w in spec["workloads"]:
        for trace in (0, 1):
            p = subprocess.run(
                spec["command"] + ["--workload", w["name"], "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w['name']} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(lines[-1])
            ok &= res["correct"] and res["failed"] == 0
            metrics = " ".join(f"{k}={v['value']:.4g} {v['unit']}"
                               for k, v in res["metrics"].items())
            print(f"{w['name']} trace={trace} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} {metrics}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
