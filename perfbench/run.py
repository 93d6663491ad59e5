#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), writes the workload's
inputs from the seed (perfbench/gen.py), runs one measured JVM
(perfbench/src/perfbench/BenchMain.scala), checks the program's outputs
and prints every metric by name, unit and sample count.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  Everything it writes stays under ``.bench_build/``.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

CORES = min(2, os.cpu_count() or 1)
HEAP = "1536m"
JVM_TIMEOUT_S = 150  # after the build; the whole run must end within 180 s
TABLE_SCALE = 0.01
HISTORY_DAYS = 120

# fixpoint_stream: the driver-bound families, trimmed to fit the run length
# (README.md): one iterative fixpoint (label propagation) and two bounded
# streams through the PipelineQueries harness (stateful dedup, a stream
# merged into the incremental store).  Each family is about half a pass.
FIXPOINTS = ["label_prop"]
STREAMS = ["stream_dedup", "stream_to_store"]

WORKLOADS = {
    "pipeline_daily": None,
    "fixpoint_stream": FIXPOINTS + STREAMS,
}

# JDK 17 module openings Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


# How much a run measures is a function of ``--seconds`` only, so every
# commit runs the same plan: one backfill plus one daily landing per 20 s,
# and one pass over the queries per 7 s.
def daily_landings(seconds: int) -> int:
    return max(1, round(seconds / 20))


def query_passes(seconds: int) -> int:
    return max(1, round(seconds / 7))


def cpu_times():
    """(steal, total) jiffies from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except OSError:
        return 0, 0


def run_jvm(classes, args, work, log_path, deadline):
    cp = os.pathsep.join([classes] + build.spark_jars())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: it would be written to the system temp directory
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", *ADD_OPENS, "-cp", cp, "perfbench.BenchMain", *args]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: the measured JVM ran out of time; see {log_path}")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    classes = build.build(build.BUILD_DIR)
    started = time.time()
    work = os.path.join(build.BUILD_DIR, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    load1 = os.getloadavg()[0]
    steal0, total0 = cpu_times()

    # ---- set-up starts: inputs, then the JVM's session/bootstrap/warm-up
    setup_t0 = time.time()
    args = ["--workload", a.workload, "--work", work, "--data", data, "--seed", str(a.seed),
            "--trace", str(a.trace), "--cores", str(CORES)]
    queries = WORKLOADS[a.workload]
    if queries is None:
        stream, plan = gen.ticks(data, a.seed, HISTORY_DAYS, daily_landings(a.seconds))
        with open(os.path.join(data, "plan.tsv"), "w") as fh:
            fh.write("".join(f"{k}\t{rel}\t{d}\n" for k, rel, d in plan))
    else:
        gen.tables(data, a.seed, TABLE_SCALE)
        args += ["--queries", ",".join(queries), "--passes", str(query_passes(a.seconds))]
    code = run_jvm(classes, args, work, os.path.join(work, "jvm.log"), started + JVM_TIMEOUT_S)
    events_path = os.path.join(work, "events.jsonl")
    if code != 0 or not os.path.exists(events_path):
        raise SystemExit(f"perfbench: the measured JVM exited with {code}; see {work}/jvm.log")
    with open(events_path) as fh:
        events = [json.loads(line) for line in fh if line.strip()]
    steal1, total1 = cpu_times()

    # ---- output checks (outside every timed region)
    if queries is None:
        problems = checks.pipeline(work, stream, HISTORY_DAYS + daily_landings(a.seconds))
    else:
        problems = checks.queries(work, data, events)

    result = metrics.compute(events, setup_t0, problems, trace=bool(a.trace),
                             cores=CORES, ticks_per_day=gen.TICKS_PER_DAY)
    host = {"seed": a.seed, "nproc": os.cpu_count(), "cores": CORES,
            "load1_at_start": load1,
            "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            **{k: v for e in events if e["ev"] == "host" for k, v in e.items() if k != "ev"}}
    for line in metrics.report(result, problems, host):
        print(line)
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump({"host": host, "problems": problems, **result}, fh, indent=1)
    for entry in os.scandir(work):  # keep the logs, drop inputs, tables and scratch
        if entry.is_dir():
            shutil.rmtree(entry.path, ignore_errors=True)
    print(json.dumps({"correct": not problems and result["failed"] == 0,
                      "attempted": result["attempted"], "failed": result["failed"],
                      "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
