"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload api_mixed --seed 1 --seconds 15 --trace 0

Generates (or reuses) the seeded inputs, then times set-up from before the
program is imported to the end of one cold pass of the workload, then runs
the timed window: a fixed amount of work sized from ``--seconds``, never a
fixed duration. Every reply is checked against planted truth. The last line
of stdout is the result JSON; the line before it (``perfbench-detail``)
records the environment, the share of CPU time the hypervisor took during
set-up and window, input sizes and per-operation statistics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from api_mixed import ApiMixed  # noqa: E402
from curation import Curation  # noqa: E402

WORKLOADS = {w.name: w for w in (ApiMixed, Curation)}


def op_stats(ops) -> dict:
    """Per operation type and per class (read/write): sample count and
    median latency."""
    out: dict = {"by_kind": {}, "by_class": {}}
    for key, group in (("by_kind", "kind"), ("by_class", "cls")):
        buckets: dict[str, list[float]] = {}
        for op in ops:
            buckets.setdefault(getattr(op, group), []).append(1000.0 * op.seconds)
        out[key] = {name: {"n": len(ms), "p50_ms": statistics.median(ms)}
                    for name, ms in sorted(buckets.items())}
    return out


def end_to_end(ops, setup_s: float) -> dict:
    """The geometric mean runs over every timed operation, so each
    operation type weighs by how often the workload's schedule sends it."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_geomean_ms": {"value": 1000.0 * math.exp(
            statistics.fmean(math.log(o.seconds) for o in ops)), "unit": "ms"},
        "items_per_s": {"value": sum(o.items for o in ops)
                        / sum(o.seconds for o in ops), "unit": "1/s"},
    }


def per_layer(tracer, ops, plan_setup, plan_end, window_s: float,
              window_overhead_s: float) -> dict:
    m = tracer.layer_metrics()
    entries = [s for s in tracer.spans if s.layer == "api"
               and (s.parent is None or s.parent.layer != "api")]
    writes = [o for o in ops if o.cls == "write"]
    m["api.spark_jobs_per_req"] = (sum(tracer.jobs_under(s) for s in entries)
                                   / len(entries) if entries else 0.0)
    m["crud.spark_jobs_per_write"] = (
        sum(tracer.jobs_under(o.span, "crud") for o in writes) / len(writes)
        if writes else 0.0)
    m["crud.plan_nodes_setup"], m["crud.plan_rdd_leaves_setup"] = plan_setup
    m["crud.plan_nodes_end"], m["crud.plan_rdd_leaves_end"] = plan_end
    m["trace.lost_jobs"] = tracer.lost_jobs
    m["trace.window_ms"] = 1000.0 * window_s
    m["trace.bookkeeping_pct"] = 100.0 * window_overhead_s / window_s
    return {name: {"value": value, "unit": unit_of(name)}
            for name, value in m.items()}


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) CPU ticks of the whole machine so far, from
    /proc/stat; None where that file does not exist."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7], sum(fields)


def steal_pct(a, b) -> float | None:
    """Share of the machine's CPU time the hypervisor took between two
    ``cpu_ticks`` readings."""
    if a is None or b is None or b[1] == a[1]:
        return None
    return 100.0 * (b[0] - a[0]) / (b[1] - a[1])


UNITS = {"wall_ms": "ms", "self_ms": "ms", "window_ms": "ms",
         "spark_jobs_per_req": "jobs/req", "spark_jobs_per_write": "jobs/write",
         "bookkeeping_pct": "%"}


def unit_of(name: str) -> str:
    return UNITS.get(name.rpartition(".")[2], "count")


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", str(os.getpid()))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # keep every file Spark and Python write inside the checkout
    os.environ.update(SPARK_LOCAL_DIRS=local, TMPDIR=local,
                      SPARK_GRAFT_CPUS=str(cpus),
                      JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={local}")
    try:
        gen0 = time.perf_counter()
        wl = WORKLOADS[args.workload](args.seed, os.path.join(HERE, ".inputs"),
                                      args.seconds)
        gen_s = time.perf_counter() - gen0

        # ---- set-up: program import, session, load, one cold pass --------
        ticks = [cpu_ticks()]
        t0 = time.perf_counter()
        sys.path.insert(0, ROOT)
        tracer = None
        if args.trace:
            from tracer import Tracer
            tracer = Tracer()
            tracer.install()
        from thewhisperdb_spark.session import get_spark
        spark = get_spark("perfbench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            cold = wl.setup(spark, work, tracer)
            setup_s = time.perf_counter() - t0
            ticks.append(cpu_ticks())
            plan_setup = wl.plan_shape() if args.trace and hasattr(wl, "plan_shape") else (0, 0)

            # ---- timed window -------------------------------------------
            overhead0 = tracer.overhead_s if tracer else 0.0
            w0 = time.perf_counter()
            ops = wl.timed(tracer)
            window_s = time.perf_counter() - w0
            ticks.append(cpu_ticks())
            window_overhead_s = (tracer.overhead_s if tracer else 0.0) - overhead0
            plan_end = wl.plan_shape() if args.trace and hasattr(wl, "plan_shape") else (0, 0)
            if tracer is not None:
                tracer.finish()
            spark_version = spark.version
        finally:
            shutdown(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    every = cold + ops
    failed = sum(not o.ok for o in every)
    stats = op_stats(ops)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cpus_used": cpus,
        "master": f"local[{cpus}]", "spark_version": spark_version,
        "python": sys.version.split()[0], "sizes": wl.sizes,
        "cold_ops": len(cold), "timed_ops": len(ops),
        "input_generation_s": gen_s, "setup_s": setup_s,
        "window_s": window_s, "ops": stats,
        "steal_pct": {"setup": steal_pct(*ticks[:2]),
                      "window": steal_pct(*ticks[1:])},
        "failed_kinds": sorted({o.kind for o in every if not o.ok}),
    }
    if tracer is not None:
        traces = os.path.join(HERE, ".traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(
            traces, f"{args.workload}-s{args.seed}-{os.getpid()}.json"))
        metrics = per_layer(tracer, every, plan_setup, plan_end, window_s,
                            window_overhead_s)
    else:
        metrics = end_to_end(ops, setup_s)
    print("perfbench-detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": len(every),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
