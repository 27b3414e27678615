"""End-to-end benchmark of idn_area_etl_spark, with a traced mode.

    python3 e2e_bench/run.py --workload etl_bulk --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  One process, one client, closed
loop.  A run generates the inputs from the seed and starts the session
with ``get_spark`` in a fresh JVM (the set-up), runs one cold pass that
is also checked, then a fixed number of warm passes: ``--seconds``
over the workload's nominal pass time, at least ``MIN_WARM``, so that
two versions of the program run the same work.  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  See e2e_bench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_WARM = 2

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "ok_ops_share": "share",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.cold_s": "s",
    "session.peak_rss_mb": "MB",
    "session.jit_s": "s",
    "session.gc_s": "s",
    "session.codegen_compiles": "count",
    "cli.chunks": "count",
    "cli.self_s": "s",
    "sources.raw_s": "s",
    "sources.raw_rows": "count",
    "sources.input_rows": "count",
    "sources.input_bytes": "B",
    "operators.extract_s": "s",
    "operators.extract_calls": "count",
    "writer.write_s": "s",
    "writer.jobs": "count",
    "writer.tasks": "count",
    "writer.rows": "count",
    "writer.kept_ratio": "ratio",
    "writer.raw_reads_per_row": "ratio",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "share",
    "plans.action_s": "s",
    "plans.action_jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.task_busy_s": "s",
    "plans.core_util": "share",
    "plans.shuffle_write_bytes": "B",
    "plans.spill_bytes": "B",
    "plans.catalyst_s": "s",
    "host.calib_ms": "ms",
    "host.calib_spread": "share",
    "trace.overhead_s": "s",
    "run.wall_s": "s",
    "run.rows_per_s": "rows/s",
}


def _median_of(dicts: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}


def _spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def _stop_session(spark) -> None:
    """Stop the session, end its JVM and the JVM's Python workers."""
    from pyspark import SparkContext

    import tracing

    gateway = SparkContext._gateway
    workers = [p for p in tracing.process_tree(gateway.proc.pid) if p != gateway.proc.pid]
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on end of input
    gateway.proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for pid in workers:
        os.kill(pid, 9)


def measure(args, work: str) -> dict:
    import tracing
    import workloads
    from idn_area_etl_spark.session import get_spark

    wl = workloads.WORKLOADS[args.workload]()
    n_warm = max(MIN_WARM, round(args.seconds / wl.pass_s))
    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update(tracing.EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + log_dir
    spark = None
    try:
        # set-up, once: a second fresh JVM does not fit the time budget
        t0 = time.perf_counter()
        wl.prepare(args.seed, work)
        t1 = time.perf_counter()
        spark = get_spark(extra_conf=conf)
        t2 = time.perf_counter()

        wl.prepare_checks()
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        counters = tracing.JvmCounters(spark) if args.trace else None

        cold = wl.run_pass(spark, None, check=True)
        passes, cpu, calib, traced, jvm = [], [], [], [], []
        while len(passes) < n_warm:
            calib.append(tracing.host_calib_ms())
            use = tracer if args.trace and len(passes) % 2 == 0 else None
            c0 = counters.read() if use else None
            cpu0 = tracing.tree_cpu_s()
            res = wl.run_pass(spark, use, check=False)
            cpu.append(tracing.tree_cpu_s() - cpu0)
            if use:
                c1 = counters.read()
                jvm.append({k: c1[k] - c0[k] for k in c1})
                traced.append(res)
            passes.append(res)
        peak_rss = tracing.tree_peak_rss_mb()
    finally:
        if spark is not None:
            _stop_session(spark)

    # wall time per pass is not a result metric (see README.md); log it
    print("warm passes (s):", " ".join(f"{p.seconds:.3f}" for p in passes),
          "| cpu (s):", " ".join(f"{c:.2f}" for c in cpu),
          "| host.calib_ms:", " ".join(f"{c:.1f}" for c in calib), file=sys.stderr)
    everything = [cold] + passes
    attempted = sum(p.ops for p in everything)
    failed = sum(p.failed for p in everything)
    if not args.trace:
        metrics = {
            "setup_s": t2 - t0,
            "cpu_s": statistics.median(cpu),
            "ok_ops_share": 1 - failed / attempted,
        }
        units = END_TO_END
    else:
        stats = tracing.parse_event_log(tracing.find_event_log(log_dir))
        layers = _median_of([wl.layer_metrics(tracer, stats, p.layers) for p in traced])
        session = _median_of(jvm)
        untraced = [p.seconds for p in passes if not p.layers]
        metrics = {name: 0 for name in PER_LAYER}
        metrics.update(layers)
        metrics.update({
            "session.start_s": t2 - t1,
            "session.cold_s": cold.seconds,
            "session.peak_rss_mb": peak_rss,
            "session.jit_s": session["jit_s"],
            "session.gc_s": session["gc_s"],
            "session.codegen_compiles": session["codegen_compiles"],
            "host.calib_ms": statistics.median(calib),
            "host.calib_spread": _spread(calib),
            "trace.overhead_s": statistics.median(p.seconds for p in traced)
            - statistics.median(untraced),
            "run.wall_s": statistics.median(untraced),
            "run.rows_per_s": passes[0].rows / statistics.median(untraced),
        })
        units = PER_LAYER
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="warm-pass time at the nominal pass time")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "idn_area_etl_spark"))
            and os.path.isfile(os.path.join(root, "tools", "check_oracle.py"))):
        print("error: run from the root of an idn_area_etl_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    work = os.path.join(root, ".e2e_bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Half the usable CPUs for Spark's task threads: the JVM's JIT
    # compiler threads stay busy through every pass, and with a task
    # thread per CPU the passes measured the scheduler (30 s of CPU per
    # 10-s etl_bulk pass at 4 task threads on 4 CPUs, 19 s at 2).
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) // 2)),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # keep stray prints of the program and the JVM off the result line
    result_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    with os.fdopen(result_fd, "w") as out:
        out.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
