"""Benchmark entry point: one workload, one seed, one measured run.

    python3 benchmark/run.py --workload dashboard_session --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.bench_run/`` and removed afterwards; Spark's scratch space and temp
files stay under ``.bench_run/`` too. Every run uses the package's
``get_spark()`` with ``SPARK_GRAFT_CPUS`` set to the usable core count, one
driver process and one client thread.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, and the span trace is written to ``.bench_run/``. The line before it
records the host state (load average before and after, core count, seed,
share of CPU time stolen by the hypervisor during the run), sample counts
and failures.

End-to-end metrics: ``setup_s`` is the time from ``get_spark()`` to the
first timed op, warm-up ops included. ``op_p50_ms`` is the median op
latency: on dashboard_session an op is one widget or canned call (about 60
per run); on etl_refresh it is one refresh pass (three per run). The host
record also gives ``op_p75_ms``, the dashboard's highest percentile with
ten samples beyond it. It is not an end-to-end metric: on a 4-vCPU VM whose
hypervisor stole 1-7 % of CPU time its ten-run spread reached 0.27 of its
median, wider than any bound the benchmark may fix, and on etl_refresh it
is only the slower of the top two passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# An ETL pass takes about 7 s on a 4-vCPU VM, so a run of 15 s holds two
# or three; the median of at least three passes is steadier.
MIN_OPS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_scratch(run_dir: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{java_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )


def load1() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb(jvm_pid: int | None) -> float:
    """VmHWM of this process plus the JVM it launched."""
    total_kb = 0
    for pid in (os.getpid(), jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    proc = jvm_process()
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(ROOT, ".bench_run")
    work = os.path.join(run_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate_scratch(run_dir)
    sys.path.insert(0, ROOT)
    try:
        from financial_transaction_data_warehouse_interactive_dashboard_spark.session import (
            get_spark,
        )

        import workloads as W
    except ImportError as e:
        print(f"benchmark: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    classes = {c.name: c for c in (W.DashboardSession, W.EtlRefresh)}
    if args.workload not in classes:
        print(f"benchmark: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    host = {"nproc": int(os.environ["SPARK_GRAFT_CPUS"]), "seed": args.seed,
            "load1_before": load1()}
    ticks = cpu_ticks()
    wl = classes[args.workload](work, args.seed)
    spark = tracer = None
    try:
        wl.prepare()
        # Set-up is the cold path a new dashboard process or ETL job pays:
        # JVM launch, input caching and the untimed warm-up ops.
        t0 = time.perf_counter()
        spark = get_spark()
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            wl.trace_hooks(tracer)
        wl.setup(spark, tracer)
        wl.warm_up()
        setup_s = time.perf_counter() - t0
        if tracer:
            tracer.resolve()
        ops = W.run_loop(wl, args.seconds, tracer, min_ops=MIN_OPS)
        W.check_all(wl, ops)
        lat_ms = [1e3 * o.seconds for o in ops]
        jvm = jvm_process()
        rss = peak_rss_mb(jvm.pid if jvm else None)

        if args.trace:
            metrics = {
                "session.get_spark_s": (get_spark_s, "s"),
                "session.peak_rss_mb": (rss, "MB"),
                **W.tracing_metrics(ops),
                **wl.layers(tracer, ops),
            }
            # Layers this workload never reaches are measured by a short,
            # fixed-size probe of the other workload in the same session,
            # without its warm-up.
            other = next(c for n, c in classes.items() if n != args.workload)
            sizes, n = other.PROBE
            probe = other(os.path.join(work, "probe"), args.seed, **sizes)
            probe.prepare()
            probe.trace_hooks(tracer)
            probe.setup(spark, tracer)
            probe_ops = W.run_loop(probe, 0, tracer, min_ops=n, max_ops=n,
                                   id_base=1_000_000)
            W.check_all(probe, probe_ops)
            metrics.update(probe.layers(tracer, probe_ops))
            probe.close()
            ops += probe_ops
            tracer.unwrap()
            tracer.write(os.path.join(run_dir, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_ms": (statistics.median(lat_ms), "ms"),
            }
    finally:
        if spark is not None:
            stop_spark(spark)
        wl.close()
        shutil.rmtree(work, ignore_errors=True)

    failed = [o for o in ops if not o.ok]
    host["load1_after"] = load1()
    steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
    host["cpu_steal_share"] = steal / total if total else 0.0
    info = {
        "workload": args.workload,
        "host": host,
        "setup_s": setup_s,
        "op_p75_ms": statistics.quantiles(lat_ms, n=4, method="inclusive")[2],
        "samples": {k: sum(o.kind == k for o in ops) for k in sorted({o.kind for o in ops})},
        "fail_ratio": len(failed) / len(ops),
        "errors": sorted({o.error for o in failed})[:5],
        "peak_rss_mb": rss,
    }
    if args.workload == "etl_refresh":
        info["account_rows"] = wl.oracle.account_rows
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(ops),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
