"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload dw_daily --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness into `.bench_build/` (see build.py). Each run starts one JVM
(`perfbench.Main`) at `local[nproc]`, sets up the workload, measures it
for `--seconds` (`--trace 0`) or runs its fixed traced work (`--trace 1`),
checks its outputs, and reduces the raw samples to metrics. The run's
raw samples, spans and host context are kept in
`.bench_build/results/<workload>-seed<seed>-trace<t>.json`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("dw_daily", "gates")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def java(classes, work, main_class, args):
    """The command that runs `main_class` of the build at `local[*]`."""
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
           "-Dperfbench.expected=" + os.path.join(HERE, "expected", "digests.json")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", classes + os.pathsep + jars, main_class] + args


def run_jvm(cmd, log_name):
    """Run the JVM with its output in a log; on failure show the log's tail
    and exit non-zero."""
    log_path = os.path.join(build.BUILD, "logs", log_name)
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            # SIGTERM first, so the JVM's shutdown hooks remove its scratch
            proc.terminate()
            try:
                proc.wait(timeout=5)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", help="write the gate digests to this file")
    args = ap.parse_args()

    classes = build.build()
    cores = len(os.sched_getaffinity(0))
    load_start = loadavg()
    work = os.path.join(build.BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    try:
        extra = ["--record-digests", os.path.abspath(args.record_digests)] \
            if args.record_digests else []
        run_jvm(java(classes, work, "perfbench.Main", [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--data", os.path.join(HERE, "data"),
            "--work", work, "--out", raw_path,
            "--t0", str(int(time.time() * 1000))] + extra), f"{args.workload}.log")
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, attempted, failed = metrics.end_to_end(raw)
    m = metrics.per_layer(raw) if args.trace else e2e
    # a tail is kept only when it is one: p90 or higher, which needs 100 samples
    latencies = [o["seconds"] for o in raw["ops"] if o["ok"]]
    p = metrics.tail_percentile(len(latencies))
    tail = {"p": p, "s": metrics.percentile(latencies, p), "n": len(latencies)} \
        if p and p >= 90 else None
    host = {"nproc": cores, "loadavg_start": load_start, "loadavg_end": loadavg(),
            "calib_s": raw["calib_s"]}
    result = {"correct": failed == 0 and not raw["failures"],
              "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}
    os.makedirs(os.path.join(build.BUILD, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(build.BUILD, "results", name), "w") as f:
        json.dump({"result": result, "host": host, "failures": raw["failures"],
                   "call_sites": metrics.call_sites(raw["spans"]), "raw": raw,
                   **({"tail": tail} if tail else {})}, f)
    sys.stderr.write(f"perfbench: host {json.dumps(host)}\n")
    for line in raw["failures"]:
        sys.stderr.write(f"perfbench: failure: {line}\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
