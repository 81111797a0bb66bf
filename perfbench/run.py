"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run = one fresh JVM on local[<cores>]
(cores from the process's CPU affinity), driven by this single-threaded
process:

1. set-up: start the session, generate the workload's inputs from the seed
   and stage them as parquet, then open them;
2. measurement: whole cycles of the workload until --seconds have passed
   (at least one; the first runs cold, as a batch job does), each cycle's
   outputs checked against a brute-force re-derivation;
3. report: a detail line (every named figure, input sizes, sample counts),
   then, as the last line, the result object the metrics contract names.

--trace 1 runs with Spark's event log on: the measured cycle (one, cold,
as in an untraced run), then the workload's diagnostic spans (each layer
on its own, with its own sink). Every call into a layer is a span with its
own job group. It reports the per-layer counters and the tracing overhead:
the driver wall spent in the tracer's own calls plus the CPU seconds of
the listener thread that writes the event log.
--seed2 seeds the output-check sampling separately from the inputs
(default: the --seed value).

Everything the run writes goes under .perfbench_work/ in the checkout and
is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEMORY = "2g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seed2", type=int, default=None)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str, cores: int) -> None:
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEMORY)


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    process it started have exited."""
    from pyspark import SparkContext

    from perfbench import common

    gateway = SparkContext._gateway
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    children = common.descendants(jvm_pid)
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in children):
        if time.monotonic() > deadline:
            break
        time.sleep(0.1)


def _sums(cycles: list[dict], key: str) -> list[float]:
    """Per cycle, the sum over its operations of op[key] (wall or cpu)."""
    return [sum(op[key] for op in ops.values()) for ops in cycles]


def _run(args, work: str) -> tuple[dict, dict]:
    import numpy as np

    from perfbench import common
    from perfbench.workloads import WORKLOADS, enter_unrun_spans, per_layer_metrics

    cores = len(os.sched_getaffinity(0))
    seed2 = args.seed if args.seed2 is None else args.seed2
    _prepare_env(work, cores)

    t = time.perf_counter()
    from osm_search_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap: the JVM's peak RSS then does not depend
            # on when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEM']} "
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    try:
        tracer = common.Tracer(spark, os.path.join(work, "eventlog"))
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)

        t = time.perf_counter()
        wl.generate(os.path.join(work, "inputs"))
        generate_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        setup_s = session_s + generate_s + prepare_s

        rng = np.random.default_rng(seed2 + 7919)
        if args.trace:
            tracer.start()
        walls: list[dict] = []
        attempted = failed = 0
        t0 = time.perf_counter()
        while True:
            if not common.disk_ok(work):
                attempted += 1
                failed += 1
                print("perfbench: free disk below the guard; stopping", file=sys.stderr)
                break
            try:
                res = wl.cycle(rng)
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                res = {"ops": None, "attempted": 1, "failed": 1}
            attempted += res["attempted"]
            failed += res["failed"]
            if res["ops"] is None:
                break
            walls.append(res["ops"])
            est = common.median(_sums(walls, "wall"))
            if args.trace or time.perf_counter() - t0 + 0.5 * est >= args.seconds:
                break
        ratios: dict[str, list] = {}
        if args.trace:
            try:
                wl.diagnostics(ratios)
            except Exception:
                traceback.print_exc()
                attempted += 1
                failed += 1
            finally:
                enter_unrun_spans(tracer)
                tracer.stop()

        rss = common.peak_rss_mb(spark.sparkContext._jvm.ProcessHandle.current().pid())
        cycles = _sums(walls, "wall")
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seed2": seed2,
            "cores": cores,
            "inputs": wl.sizes,
            "setup": {
                "session_s": session_s,
                "generate_s": generate_s,
                "prepare_s": prepare_s,
            },
            "cycles": len(cycles),
            "attempted": attempted,
            "failed": failed,
            "failed_op_share": failed / max(attempted, 1),
            "cycle_cpu_s": common.median(_sums(walls, "cpu")),
            "peak_rss_mb_by_process": [round(r, 1) for r in rss],
            "named": wl.named_metrics(walls),
        }
        out = {
            "correct": failed == 0 and bool(cycles),
            "attempted": attempted,
            "failed": failed,
        }
        if args.trace:
            metrics = per_layer_metrics(wl, tracer.per_span(), ratios, tracer.overhead_s)
            detail["trace_overhead_s"] = tracer.overhead_s
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "cycle_s": (common.median(cycles), "s"),
                "peak_rss_mb": (sum(rss), "MB"),
            }
        out["metrics"] = {
            k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
        }
        return detail, out
    finally:
        _stop(spark)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "osm_search_spark")):
        print(
            "perfbench: no osm_search_spark package next to perfbench/; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        detail, out = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
