#!/usr/bin/env python3
"""One benchmark run: builds the program if needed, makes the workload's
inputs from the seed, runs the workload in a fresh JVM, checks every answer
against DuckDB and prints one JSON line of metrics last.

    python3 perfbench/run.py --workload htsql_interactive --seed 1 --seconds 15 --trace 0

Run from the repository root. `--trace 0` prints the end-to-end metrics;
`--trace 1` prints the per-layer metrics and leaves the spans and a
summary (with the traced run's end-to-end figures) in
`.bench_out/<workload>-seed<seed>/`.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "throughput_per_s": "1/s"}

INDEX_STORES = ["dedup.bands", "dedup.params", "dedup.shingles", "postings.postings",
                "postings.ptotals"]
PER_LAYER = {
    "lang.parse_ms": "ms", "lang.plan_ms": "ms", "lang.plan_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "render.ms": "ms", "server.overhead_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B", "exec.task_skew": "ratio",
    "staging.frames": "count", "staging.bytes": "B",
    "ingest.batch_ms": "ms", "ingest.drain_ms": "ms", "ingest.start_ms": "ms",
    "read.ms": "ms", "read.jobs": "count", "index.files": "count",
    **{f"index.bytes.{s}": "B" for s in INDEX_STORES},
    "index.bytes_per_doc": "B", "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
}

# Spark on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "3g"
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 880        # ... or 900 s when it builds


def end_to_end(result, t_launch):
    lat = result["latencies_ms"]
    return {
        "setup_s": result["first_op_ms"] / 1000.0 - t_launch,
        "latency_p50_ms": statistics.median(lat) if lat else 0.0,
        "throughput_per_s": result["work_units"] / result["work_s"],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.PREPARE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    t_start = time.time()
    try:
        classes, spark_jars = build.build(root)
    except build.BuildError as e:
        print(e, file=sys.stderr)
        return 1
    deadline = t_start + (BUILD_LIMIT_S if time.time() - t_start > 30 else RUN_LIMIT_S)

    run_dir = os.path.join(root, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    data, work, out = (os.path.join(run_dir, d) for d in ("data", "work", "out"))
    for d in (data, work, out, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    try:
        plan, keep = workloads.PREPARE[a.workload](a.seed, data, a.seconds)
        with open(os.path.join(out, "plan.json"), "w") as f:
            json.dump(plan, f)
        jars = os.path.join(spark_jars, "*")
        cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
               "-cp", os.pathsep.join([classes, jars]), "perfbench.Main",
               "--workload", a.workload, "--data", data, "--work", work, "--out", out,
               "--trace", str(a.trace)]
        log_path = os.path.join(run_dir, "jvm.log")
        t_launch = time.time()
        with open(log_path, "w") as log:
            # Spark's scratch space stays in the run's work directory
            env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=max(10.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.send_signal(signal.SIGQUIT)    # thread dump into the log
                time.sleep(2)
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = "a timeout"
        if rc != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            print(f"{a.workload}: JVM exited with {rc}", file=sys.stderr)
            return 1
        with open(os.path.join(out, "result.json")) as f:
            result = json.load(f)
        with open(os.path.join(out, "answers.json")) as f:
            answers = json.load(f)
        errors = check.CHECKS[a.workload](data, answers, keep)
        for e in errors[:20]:
            print(f"WRONG {e}", file=sys.stderr)
        e2e = end_to_end(result, t_launch)
        if a.trace:
            layer = {k: result["layer"].get(k, 0.0) for k in PER_LAYER}
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
            keep_dir = os.path.join(root, ".bench_out", f"{a.workload}-seed{a.seed}")
            shutil.rmtree(keep_dir, ignore_errors=True)
            os.makedirs(keep_dir)
            shutil.copy(os.path.join(out, "spans.jsonl"), keep_dir)
            with open(os.path.join(keep_dir, "summary.json"), "w") as f:
                json.dump({"per_layer": layer, "end_to_end_traced": e2e,
                           "extra_layer": {k: v for k, v in result["layer"].items()
                                           if k not in PER_LAYER},
                           "info": result["info"], "samples": len(result["latencies_ms"]),
                           "window_s": result["window_s"]}, f, indent=1)
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        print(f"{a.workload}: window {result['window_s']:.1f}s, "
              f"{len(result['latencies_ms'])} latency samples, info {result['info']}",
              file=sys.stderr)
        print(json.dumps({"correct": not errors, "attempted": result["attempted"],
                          "failed": result["failed"], "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
