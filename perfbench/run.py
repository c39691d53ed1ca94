#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the run's
inputs from the seed (perfbench/gen.py), runs the workload in a fresh JVM
with a fresh working directory, checks the outputs, and prints a detail
record followed by the result line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Untraced runs report the end_to_end metrics of BENCHMARK.json, traced
runs the per_layer ones. See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import json
import os
import shutil
import signal
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# Scale factor of the generated tables and JVM heap, per workload.
# lineage-fetch reads only table schemas.
WORKLOADS = {
    "lineage-fetch": {"sf": 0.01, "heap": "2g"},
    "analytics": {"sf": 0.02, "heap": "4g"},
}
# The JVM is killed this many seconds after the build, which leaves the
# output checks time to finish within three minutes.
JVM_DEADLINE_S = 150

# Same module openings the sbt build passes to forked JVMs (Spark on JDK 17).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, args, workdir, heap, log_path, timeout):
    cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={args['tmp']}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "graft.perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=workdir, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wl = WORKLOADS[a.workload]

    classes = build.build()
    built = time.time()
    stamp = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    rundir = os.path.join(build.target_dir(), "runs", stamp)
    outdir = os.path.join(build.target_dir(), "records", stamp)
    shutil.rmtree(rundir, ignore_errors=True)
    paths = {k: os.path.join(rundir, k) for k in ("data", "inputs", "work", "tmp")}
    for p in list(paths.values()) + [outdir]:
        os.makedirs(p, exist_ok=True)
    try:
        gen.tables(paths["data"], wl["sf"], a.seed)
        if a.workload == "lineage-fetch":
            gen.fetch_requests(paths["inputs"], a.seed)
            gen.store_runs(paths["inputs"], a.seed)
        spawn_ms = time.time() * 1000
        rc = run_jvm(classes, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": cores(), "data": paths["data"],
            "inputs": paths["inputs"], "out": outdir, "tmp": paths["tmp"]},
            paths["work"], wl["heap"], os.path.join(outdir, "jvm.log"),
            JVM_DEADLINE_S - (time.time() - built))
        if rc != 0:
            print(f"workload JVM failed (exit {rc}); see {outdir}/jvm.log",
                  file=sys.stderr)
            return 1
        rec = json.load(open(os.path.join(outdir, "record.json")))
        oracles = json.load(open(os.path.join(outdir, "oracles.json")))
        bad = oracle.check(paths["data"], os.path.join(outdir, "results"), oracles)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    for name, info in bad.items():
        rec["checks"].append({"name": f"oracle_{name}", "ok": False, "info": info})
    for name in oracles:
        if name not in bad:
            rec["checks"].append({"name": f"oracle_{name}", "ok": True, "info": ""})
    # A query whose result differs from its oracle failed on every execution.
    executions = rec["detail"].get("executions", {})
    failed = rec["failed"] + sum(executions.get(q, 0) for q in bad)
    attempted = rec["attempted"]
    rec["e2e"]["setup_s"] = (rec["first_op_ms"] - spawn_ms) / 1000.0
    rec["e2e"]["success_frac"] = 1.0 - failed / attempted if attempted else 0.0

    # Every metric must have been measured. A per-layer metric may be unset
    # only when the workload declares its layer bypassed; it then reads 0.
    if a.trace:
        kind, source = "per_layer", dict(rec["layer"])
        for m in spec[kind]:
            if m["name"] not in source and m["name"].split(".")[0] in rec["bypassed"]:
                source[m["name"]] = 0.0
    else:
        kind, source = "end_to_end", rec["e2e"]
    missing = [m["name"] for m in spec[kind] if m["name"] not in source]
    rec["checks"].append({"name": "every_metric_measured", "ok": not missing,
                          "info": " ".join(missing)})
    correct = attempted > 0 and failed == 0 and all(c["ok"] for c in rec["checks"])
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[kind]}
    rec.update({"correct": correct, "failed_total": failed, "record_dir": outdir})
    with open(os.path.join(outdir, "record.json"), "w") as f:
        json.dump(rec, f)
    print(json.dumps(rec, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
