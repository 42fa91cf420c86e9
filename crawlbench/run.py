"""Crawl benchmark entry point.

Run from the repository root:

    python3 crawlbench/run.py --workload steady_crawl --seed 1 --seconds 10 --trace 0

One process, Spark on ``local[<cores>]``, a closed loop with one client.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is a detail record (set-up breakdown, latency tails, load
average, correctness checks). See crawlbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

# A run times at least one operation, however long it takes; a traced run
# at least two, one traced and one not.
MIN_OPS = {False: 1, True: 2}

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_latency_p50_s": "s",
    "throughput_per_s": "1/s",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let the workers import the program from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit: closing the gateway's stdin makes the JVM exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


def _cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    all cores: its growth during a run shows a noisy shared host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _run_ops(wl, seconds: float, tracer, ops: list, errors: list) -> None:
    """Closed loop: start operations back to back until ``seconds`` have
    passed, at least MIN_OPS have run and the workload's cycle of
    operations is complete, or until the workload's inputs run out. With a
    tracer, every second operation runs traced."""
    from crawlbench.workloads import Op

    t_end = time.perf_counter() + seconds
    i = 0
    min_ops = MIN_OPS[tracer is not None]
    while i < wl.MAX_OPS and (
        i < min_ops or i % wl.CYCLE or time.perf_counter() < t_end
    ):
        traced = tracer is not None and i % 2 == 1
        try:
            if traced:
                with tracer.installed(), tracer.span("op"):
                    op = wl.op()
            else:
                op = wl.op()
        except Exception:
            errors.append(traceback.format_exc())
            traceback.print_exc()
            op = Op("error", 0.0, False)
        op.traced = traced
        ops.append(op)
        i += 1


def run(args, root: str, work: str, load0: float) -> tuple[dict, dict]:
    from crawlbench import stats, workloads
    from crawlbench.trace import LAYER_METRICS, Tracer, layer_metrics

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(
            f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}"
        )
    steal0 = _cpu_steal_s()
    t0 = time.perf_counter()
    from incubator_stormcrawler_spark.session import get_spark

    spark = get_spark("crawlbench")
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    wl = None
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        build_s = wl.build()
        t = time.perf_counter()
        warm = wl.warm_up()
        warm_up_s = time.perf_counter() - t

        tracer = Tracer(spark) if args.trace else None
        ops, errors = [], []
        _run_ops(wl, args.seconds, tracer, ops, errors)
        final = wl.final_check()
        rss_mb = _jvm_peak_rss_mb(spark)
    finally:
        if wl is not None:
            wl.close()
        _stop_spark(spark)

    timed = [o for o in ops if not o.traced and o.kind != "error"]
    main_kind = "generation" if args.workload == "steady_crawl" else "read"
    lat = [o.seconds for o in timed if o.kind == main_kind]
    commit_untraced = [o.commit_s for o in timed if o.commit_s is not None]
    busy = sum(o.seconds for o in timed)
    items = sum(o.items for o in timed if o.kind == main_kind)
    throughput = (
        items / busy if main_kind == "generation" else len(lat) / busy
    ) if busy else 0.0
    all_ops = warm + ops
    failed_checks = [k for k, v in final.items() if v["got"] != v["want"]]
    attempted = len(all_ops)
    failed = min(
        attempted, sum(not o.ok for o in all_ops) + bool(failed_checks)
    )

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "loadavg_1m_start": load0,
        "loadavg_1m_end": os.getloadavg()[0],
        "cpu_steal_s": _cpu_steal_s() - steal0,
        "session_s": session_s,
        "build_s": build_s,
        "warm_up_s": warm_up_s,
        "ops_timed": len(lat),
        "commits_timed": len(commit_untraced),
        "failed_ops_ratio": failed / attempted,
        "run_wall_s": time.perf_counter() - t0,
        "jvm_peak_rss_mb": rss_mb,
        "commit_latency_p50_s": stats.median(commit_untraced),
        "op_seconds": [
            [o.label, round(o.seconds, 4), o.traced] for o in warm + ops
        ],
        "final_checks": final,
        "errors": errors,
    }
    if main_kind == "generation":
        detail.update(
            pages_per_s=throughput,
            gen_latency_p50_s=stats.median(lat),
            gen_latency_tail=stats.tail(lat),
        )
    else:
        detail.update(
            query_latency_p50_s=stats.median(lat),
            query_latency_tail=stats.tail(lat),
        )

    if args.trace:
        traced = [o.seconds for o in ops if o.traced and o.kind == main_kind]
        values = layer_metrics(tracer.spans, traced, lat)
        units = LAYER_METRICS
        trace_path = os.path.join(
            root, "crawlbench", "_out",
            f"trace-{args.workload}-{args.seed}.json",
        )
        tracer.dump(trace_path)
        detail["trace_file"] = os.path.relpath(trace_path, root)
    else:
        values = {
            "setup_s": session_s + build_s + warm_up_s,
            "op_latency_p50_s": stats.median(lat),
            "throughput_per_s": throughput,
        }
        units = END_TO_END_UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": values[name], "unit": unit}
            for name, unit in units.items()
        },
    }
    return detail, result


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "incubator_stormcrawler_spark")):
        print(
            "crawlbench: run from the repository root (the directory that "
            "holds incubator_stormcrawler_spark/)",
            file=sys.stderr,
        )
        return 2
    load0 = os.getloadavg()[0]
    work = os.path.join(root, "crawlbench", "_work", f"run-{os.getpid()}")
    _prepare_env(root, work)
    try:
        detail, result = run(args, root, work, load0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # run as a script from the repository root: make the root importable so
    # the benchmark's modules load as the ``crawlbench`` package
    sys.path.insert(0, os.getcwd())
    sys.exit(main())
