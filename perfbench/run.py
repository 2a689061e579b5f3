#!/usr/bin/env python3
"""fastdup_spark benchmark: one workload per invocation, in a fresh process
and JVM, at local[<cores>].

    python3 perfbench/run.py --workload batch_dedup --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds its inputs from ``--seed``,
sets up (session start and, for trickle_update, the store build), then runs
the workload's closed loop until ``--seconds`` have elapsed (the step in
flight completes; at least one step always runs). Every call's output is
checked. Informational lines start with ``#``; the last line of standard
output is the JSON result. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run (event log on, spans
around every call, a layer-by-layer replay for batch_dedup).

``--smoke`` runs every workload of BENCHMARK.json at a tiny size, traced and
untraced, and checks that each run prints every metric with its unit.

Everything the run writes goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END = [("setup_s", "s"), ("docs_per_s", "pages/s"), ("read_s", "s"),
              ("dup_pair_recall", "ratio"), ("store_mb", "MB")]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Import path for the driver and the Spark Python workers, and scratch
    directories inside the checkout (never the cwd or a prebuilt zip)."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        os.makedirs(os.path.join(STATE, sub), exist_ok=True)
        os.environ[var] = os.path.join(STATE, sub)
    # the launcher JVM of spark-submit would write an hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def provenance() -> dict:
    """Commit, dirty flag, cores and Spark version of what is measured."""
    import pyspark

    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))

    def git(*a):
        r = subprocess.run(["git", "-C", ROOT, *a], capture_output=True, text=True, env=env)
        return r.stdout.strip() if r.returncode == 0 else None

    commit = git("rev-parse", "HEAD")
    status = git("status", "--porcelain", "--untracked-files=no") if commit else None
    return {"commit": commit, "dirty": bool(status) if commit else None,
            "nproc": cores(), "spark": pyspark.__version__,
            "graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}}


def start_spark(work: str, event_dir: str | None):
    from fastdup_spark import get_spark

    n = cores()
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # no hsperfdata file under /tmp, as for the launcher JVM above
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("fastdup-perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_steal_s() -> float:
    """Seconds of CPU stolen from this VM by its host so far (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def result_path(args) -> str:
    return os.path.join(STATE, "results", f"{args.workload}-{args.size}.json")


def untraced_baseline(args) -> dict:
    """Write and read medians of the last correct untraced run of the
    workload at this size in this checkout ({} if there is none)."""
    path = result_path(args)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def run_workload(args) -> int:
    import layers
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl_cls = workloads.WORKLOADS[args.workload]
    base = untraced_baseline(args) if args.trace else {}
    work = os.path.join(STATE, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = tracing.Tracer(enabled=bool(args.trace))
    event_dir = os.path.join(work, "eventlog") if args.trace else None

    info = {"workload": args.workload, "seed": args.seed, "size": args.size,
            "trace": args.trace, "master": f"local[{cores()}]",
            "shuffle_partitions": cores(), **provenance()}
    bench = workloads.Bench(None, ROOT, STATE, work, args.seed, args.size, tracer)
    wl = wl_cls(bench)                       # input generation: outside set-up time
    print(f"# generation_s {bench.info['generation_s']:.3f}", flush=True)

    steal0 = cpu_steal_s()
    t0 = time.perf_counter()
    spark = start_spark(work, event_dir)
    bench.spark = spark
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    writes, reads, extras = [], [], {}
    loop_start = rss = None
    try:
        try:
            wl.setup()
            setup_s = time.perf_counter() - t0
            bench.timing = True
            loop_start = time.time()
            deadline = time.perf_counter() + args.seconds
            while True:
                w, r = wl.step()
                writes.append(w)
                reads.extend(r)
                if rss is None:   # at a fixed point: more steps must not raise it
                    rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
                if time.perf_counter() >= deadline or wl.exhausted():
                    break
            bench.timing = False
            end = wl.finish()
            if args.trace:
                extras = layers.EXTRAS[args.workload](bench, wl)
        except workloads.StepFailed:
            setup_s = time.perf_counter() - t0
            end = {}
    finally:
        stop_spark(spark)

    correct = bench.failed == 0 and bool(writes)
    info.update({k: v for k, v in bench.info.items() if k not in ("update_stats", "rewrite")})
    info["ops"] = {k: {"median_s": median(v), "n": len(v), "samples_s": v}
                   for k, v in bench.ops.items()}
    info["setup_ops_s"] = bench.setup_ops
    info["warmup_ops_s"] = bench.warmup_ops
    info["steps"] = len(writes)
    info["host_steal_s"] = cpu_steal_s() - steal0
    info["failed_frac"] = bench.failed / max(bench.attempted, 1)
    info["failures"] = bench.failures
    print("# info " + json.dumps(info, default=str), flush=True)

    if args.trace:
        jobs, tasks = tracing.read_event_log(event_dir)
        tracer.dump(os.path.join(work, "spans.json"))
        overhead = (median(writes) + median(reads)
                    - base["write_s"] - base["read_s"]) if base else 0.0
        values = layers.assemble(bench, extras, jobs, tasks, loop_start or 0.0, overhead)
        values["driver.peak_rss_mb"] = rss or 0.0
        units = dict(layers.PER_LAYER)
        print("# tracing overhead " + (f"{overhead:.3f} s per step against the untraced run "
              f"of seed {base['seed']}" if base else "unknown: no untraced run recorded "
              "in this checkout (reported as 0)"), flush=True)
    else:
        values = {
            "setup_s": setup_s,
            "docs_per_s": end.get("pages_per_write", 0) / median(writes) if writes else 0.0,
            "read_s": median(reads),
            "dup_pair_recall": end.get("dup_pair_recall", 0.0),
            "store_mb": end.get("store_mb") or 0.0,
        }
        units = dict(END_TO_END)
        if correct:
            os.makedirs(os.path.dirname(result_path(args)), exist_ok=True)
            with open(result_path(args), "w") as f:
                json.dump({"seed": args.seed, "write_s": median(writes),
                           "read_s": median(reads)}, f)
    result = {"correct": correct, "attempted": bench.attempted, "failed": bench.failed,
              "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units}}
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


def smoke(args) -> int:
    """Every workload of BENCHMARK.json, traced and untraced, at a tiny
    size: each run must pass its checks and print every metric with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = subprocess.run([sys.executable, os.path.abspath(__file__),
                                "--workload", w["name"], "--seed", str(args.seed),
                                "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
                               capture_output=True, text=True, timeout=900)
            lines = r.stdout.strip().splitlines()
            out = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
            got = out.get("metrics", {})
            for m in spec[key]:
                if got.get(m["name"], {}).get("unit") != m["unit"]:
                    bad.append(f"{w['name']} trace={trace}: {m['name']} missing or wrong unit")
            if r.returncode != 0 or not out.get("correct"):
                bad.append(f"{w['name']} trace={trace}: exit {r.returncode}, "
                           f"correct={out.get('correct')}\n{r.stderr[-2000:]}")
            print(f"# smoke {w['name']} trace={trace}: exit {r.returncode}", flush=True)
    for b in bad:
        print("SMOKE FAILED " + b, file=sys.stderr)
    print(json.dumps({"smoke_ok": not bad}))
    return 1 if bad else 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fastdup_spark", "__init__.py")):
        print(f"perfbench: no fastdup_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    prepare_env()
    if args.smoke:
        return smoke(args)
    if not args.workload:
        print("perfbench: --workload is required", file=sys.stderr)
        return 2
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
