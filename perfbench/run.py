"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds every input from ``--seed``
under ``.bench_work/`` in the checkout, drives the engine in this
process on ``local[<cpus>]``, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in ``BENCHMARK.json``. The line before it holds
host facts and details (sample counts, failure notes). With
``--trace 1`` the spans are written to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402

DRIVER_MEM = "1g"


def _start_session(work: str, traced: bool):
    """The engine's session factory on all of this host's cores, with
    scratch space inside the checkout. A traced run serves the status
    REST API and keeps every job, stage and SQL execution."""
    from document_parsing_etl_pipeline_spark.session import get_spark
    extra = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        extra.update({
            "spark.ui.enabled": "true", "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    cpus = len(os.sched_getaffinity(0))
    return get_spark("perfbench", master=f"local[{cpus}]", extra_conf=extra)


def _cpu_clock():
    """A clock of the CPU seconds used by this process and the
    session's JVM together."""
    from pyspark import SparkContext
    jvm = SparkContext._gateway.proc.pid
    return lambda: trace.cpu_s() + trace.cpu_s(jvm)


def _stop_session(spark) -> float:
    """Stop Spark and its JVM and wait for the JVM to exit; returns
    the JVM's peak resident set in MB, read just before it stops."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    jvm_mb = trace.vm_hwm_mb(proc.pid) if proc else 0.0
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    return jvm_mb


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    import document_parsing_etl_pipeline_spark  # noqa: F401  fail early

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM started from here (the launcher and the driver) keeps
    # its temporary files in the work dir and writes no perf data
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    host = trace.host_facts()
    steal0, total0 = trace.cpu_ticks()
    traced = bool(args.trace)
    try:
        t0 = time.perf_counter()
        spark = _start_session(work, traced)
        session_s = time.perf_counter() - t0
        try:
            tracer = trace.Tracer(spark, traced)
            res = WORKLOADS[args.workload](
                Ctx(spark, tracer, args.seed, args.seconds, work, _cpu_clock()))
            host["spark"] = spark.version
        finally:
            jvm_mb = _stop_session(spark)
        if traced:
            out = os.path.join(ROOT, ".bench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(
                out, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host["load1_end"] = round(os.getloadavg()[0], 2)
    steal1, total1 = trace.cpu_ticks()
    host["steal_frac"] = round((steal1 - steal0) / max(1, total1 - total0), 4)

    wall, cpu = res.medians(1), res.medians(2)
    values = {
        "setup_s": session_s + trace.median(res.setup_s),
        "op_cpu_ms": trace.geomean(list(cpu.values())),
        "cycle_cpu_s": trace.median([c[1] for c in res.cycles]),
        "peak_rss_mb": trace.vm_hwm_mb() + jvm_mb,
    }
    if traced:
        values = dict(res.layers)
        values["session.start_s"] = session_s
        values["trace.op_cpu_ms"] = trace.geomean(list(cpu.values()))
        values["trace.op_geomean_ms"] = trace.geomean(list(wall.values()))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if traced else "end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in spec}
    print(json.dumps({
        "host": host, "workload": args.workload, "seed": args.seed,
        "samples": len(res.ops), "cycles": len(res.cycles),
        "session_s": session_s, "python_mb": trace.vm_hwm_mb(), "jvm_mb": jvm_mb,
        "setup_samples": res.setup_s,
        "op_geomean_ms": trace.geomean(list(wall.values())),
        "cycle_s": trace.median([c[0] for c in res.cycles]),
        "cycle_samples": [c[0] for c in res.cycles],
        "cycle_cpu_samples": [c[1] for c in res.cycles],
        "op_p50_ms_by_kind": wall, "op_cpu_p50_ms_by_kind": cpu,
        "notes": res.notes[:20],
    }))
    print(json.dumps({
        "correct": res.failed == 0, "attempted": res.attempted,
        "failed": res.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
