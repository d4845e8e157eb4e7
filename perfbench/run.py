#!/usr/bin/env python3
"""graft's benchmark: one seeded workload, checked, with its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <serve_read|ingest_compact|analytics_sf01>
                           --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness (perfbench/build.py), generates the workload's
inputs from the seed, runs the harness JVM on local[nproc], checks every
answer against a model made apart from graft, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). The full record
goes to <run dir>/record.json. A crashed run, or one whose checks fail,
prints no metrics and exits non-zero.
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
import metrics  # noqa: E402
import workloads as W  # noqa: E402

WORKLOADS = ("serve_read", "ingest_compact", "analytics_sf01")
# the fixed, read-only test tables of TESTDATA.md; the self-test uses sf0.001
SF_DIR = os.path.expanduser("~/testdata/sf0.1")
ANALYTICS_STRIDE = 4      # every fourth query of each module, see README
JVM_TIMEOUT_S = 170
LAST_RUN_DIR = None
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_cores():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """A quarter of the host's memory, within [2 GB, 6 GB]: the JVM shares
    the host, and the workloads' working sets fit well inside that."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(2048, min(6144, total_kb // 1024 // 4))


def run_jvm(classes, run_dir, workload, seconds, trace, heap, deadline):
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap}m", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:{build.SPARK_JARS}/*",
            "graft.perfbench.Main", workload, run_dir, str(seconds), str(trace)]
    os.makedirs(f"{run_dir}/tmp")
    with open(f"{run_dir}/jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            raise SystemExit(128 + signum)

        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness JVM timed out; see {run_dir}/jvm.log")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            for s, h in old.items():
                signal.signal(s, h)
    if rc != 0:
        with open(f"{run_dir}/jvm.log") as fh:
            tail = fh.read()[-3000:]
        log(tail)
        raise SystemExit(f"harness JVM exited with {rc}; see {run_dir}/jvm.log")


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory's store")
    args = ap.parse_args(argv)
    global LAST_RUN_DIR
    t_start = time.time()

    classes = build.classes_dir()
    t_setup = time.time()     # set-up starts once the build is in place
    deadline = t_setup + JVM_TIMEOUT_S
    cores = host_cores()
    heap = heap_mb()
    runs = os.path.join(build.build_dir(), "runs")
    run_dir = os.path.abspath(os.path.join(
        runs, f"{args.workload}-s{args.seed}-t{args.trace}-{int(t_start * 1000)}-{os.getpid()}"))
    os.makedirs(run_dir)
    LAST_RUN_DIR = run_dir

    if args.workload == "serve_read":
        plan, model = W.gen_serve_read(run_dir, args.seed, cores)
    elif args.workload == "ingest_compact":
        plan, model = W.gen_ingest_compact(run_dir, args.seed, cores)
    else:
        if not os.path.isdir(SF_DIR):
            raise SystemExit(f"analytics data {SF_DIR} not found")
        plan, model = W.gen_analytics(run_dir, args.seed, cores, SF_DIR, ANALYTICS_STRIDE,
                                      "src/main/scala/graft/SparkEntry.scala")

    run_jvm(classes, run_dir, args.workload, args.seconds, args.trace, heap, deadline)
    with open(f"{run_dir}/result.json") as fh:
        result = json.load(fh)
    setup_s = result["first_op_epoch_ms"] / 1000.0 - t_setup

    if args.workload == "serve_read":
        errors = checks.check_serve_read(run_dir, result, plan, model)
    elif args.workload == "ingest_compact":
        errors = checks.check_ingest_compact(result, model)
    else:
        errors = checks.check_analytics(run_dir, result, plan,
                                        os.path.join(build.build_dir(), "oracle-cache"))
    errors += checks.check_failures(args.workload, result)
    attempted, failed, failures = metrics.counts(args.workload, result)
    e2e = metrics.end_to_end(args.workload, result, model, setup_s)
    layers = metrics.per_layer(args.workload, result, model, run_dir) if args.trace else {}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "source_sha256": open(f"{classes}/STAMP").read().strip(),
        "cores": result["cores"], "heap_mb": result["heap_mb"],
        "shuffle_partitions": result["shuffle_partitions"],
        "storage_memory_mb": result["storage_memory_mb"],
        "attempted": attempted, "failed": failed, "failures_by_class": failures,
        "correct": not errors, "errors": errors[:50], "n_errors": len(errors),
        "end_to_end": e2e, "per_layer": layers,
        "detail": metrics.detail(args.workload, result, model),
        "span_self_s": metrics.span_self_times(run_dir) if args.trace else {},
        "wall_s": time.time() - t_start,
    }
    with open(f"{run_dir}/record.json", "w") as fh:
        json.dump(record, fh, indent=1)
    if not args.keep and not errors:
        # a passing run keeps its record, spans and log; the stores, inputs
        # and raw responses go (a failing run keeps everything)
        for d in os.listdir(run_dir):
            p = os.path.join(run_dir, d)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
        os.remove(f"{run_dir}/result.json")
    if errors:
        for e in errors[:20]:
            log(f"CHECK FAILED: {e}")
        log(f"{len(errors)} check failures; record: {run_dir}/record.json")
        return 1
    chosen = layers if args.trace else e2e
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "source_sha256": record["source_sha256"][:12],
                      "record": os.path.relpath(f"{run_dir}/record.json")}))
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in chosen.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
