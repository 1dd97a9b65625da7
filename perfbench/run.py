"""Benchmark entry point.

    python3 perfbench/run.py --workload <build|ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Starts one local Spark session
fitted to the host (``local[N]`` with N at most the usable cores, driver
memory a share of MemTotal, scratch dirs inside the checkout), runs one
workload from :mod:`perfbench.workloads`, and prints as its last line a
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the end-to-end metrics, or with ``--trace 1`` the per-layer ones.
Exits non-zero, printing no result, when the package is missing.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: driver heap as a share of MemTotal: the session pre-touches its whole
#: heap at start, and the machine is shared
MEM_SHARE = 0.125
MAX_CORES = 4

E2E_UNITS = {
    "setup_s": "s", "items_per_s": "1/s", "op_p50_ms": "ms",
    "op_tail_ms": "ms", "query_p50_ms": "ms", "query_tail_ms": "ms",
    "index_bytes_per_doc": "B", "peak_rss_mb": "MB",
}


def host_fit() -> tuple[int, str]:
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return cores, f"{max(512, int(kb * MEM_SHARE / 1024))}m"


def session_env(work: str) -> dict[str, str]:
    """Environment for the package's session factory, which reads memory
    and cores from it: the host fit, and every temp dir under ``work``.
    The caller applies it before :func:`start_session`."""
    cores, mem = host_fit()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_DRIVER_MEM": mem,
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # -XX:-UsePerfData: no hsperfdata file, which the JVM would
        # put in /tmp whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def start_session(work: str, trace: bool):
    """The package's own session factory, fitted from outside: cores as
    the master, dirs through extra_conf (memory through session_env)."""
    cores, _ = host_fit()
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    from deces_dataprep_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for both to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def metrics(e2e: dict, rss_mb: float) -> tuple[dict, dict]:
    from perfbench.workloads import tail

    op_tail, op_label = tail(e2e["op"])
    q_tail, q_label = tail(e2e["query"])
    values = {
        "setup_s": e2e["setup_s"],
        "items_per_s": e2e["items_per_s"],
        "op_p50_ms": statistics.median(e2e["op"]),
        "op_tail_ms": op_tail,
        "query_p50_ms": statistics.median(e2e["query"]),
        "query_tail_ms": q_tail,
        "index_bytes_per_doc": e2e["index_bytes_per_doc"],
        "peak_rss_mb": rss_mb,
    }
    return values, {"op_tail_ms": op_label, "query_tail_ms": q_label}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # the measured work is a fixed op count per workload (see
    # perfbench/WORKLOADS.md) that runs longer than the configured time
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the script's own dir must not shadow top-level modules
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != here]
    try:
        import deces_dataprep_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.spans import EventLog, Tracer
    from perfbench.workloads import (
        LAYER_UNITS,
        WORKLOADS,
        Run,
        job_layers,
        peak_rss_mb,
    )

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    tracer = Tracer(bool(args.trace))
    os.environ.update(session_env(work))
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_session(work, bool(args.trace))
        run = Run(spark=spark, work=work, seed=args.seed, tracer=tracer,
                  session_start_s=time.perf_counter() - t0)
        e2e, layers = WORKLOADS[args.workload](run)
        rss = peak_rss_mb(spark)
        stop_session(spark)
        spark = None
        if args.trace:
            events = EventLog(os.path.join(work, "eventlog"))
            layers.update(job_layers(tracer, events))
            layers["session.start_s"] = run.session_start_s
            trace_dir = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(os.path.join(
                trace_dir, f"{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    values, labels = metrics(e2e, rss)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "tails": labels, **run.notes}, sort_keys=True))
    if args.trace:
        out = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
               for name, unit in LAYER_UNITS.items()}
    else:
        out = {name: {"value": float(values[name]), "unit": unit}
               for name, unit in E2E_UNITS.items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
