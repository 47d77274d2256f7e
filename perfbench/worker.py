"""One benchmark run of one workload, in one process with one Spark session.

Started by run.py, which sets the environment and samples memory from
outside. Phases: set-up (session start, registry load, fixture staging,
expected results), a timed cold first pass, the workload's untimed
warm-up, then the timed window: whole passes until the operations have
taken `--seconds` seconds. Each operation's result is checked after its
timing ends, and then released. The summary goes to the `--result` file
as JSON.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

import tracing  # noqa: E402
import workloads  # noqa: E402

SPARK_LAYERS = (
    "spark.stages", "spark.tasks", "spark.failed_tasks", "spark.executor_run_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
)


class Ctx:
    spark = None
    specs = None
    record = None

    def __init__(self, args, tracer) -> None:
        self.data_dir, self.stage_dir, self.tracer = args.data, args.stage, tracer


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def per_type_medians(samples: list[dict], key: str) -> dict[str, float]:
    by: dict[str, list[float]] = defaultdict(list)
    for s in samples:
        if key in s:
            by[s["kind"]].append(s[key])
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def steal_s() -> float:
    """CPU seconds this host's vCPUs have lost to the hypervisor."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_op(ctx: Ctx, op, n: int, phase: str, log: list, errors: list) -> dict:
    tracer = ctx.tracer
    rec = ctx.record = workloads.Record()
    tracer.op_id = f"op{n:05d}"
    sample = {"kind": op.kind, "phase": phase}
    gc0 = tracer.gc_ms() if tracer.enabled else 0
    steal0 = steal_s()
    t0 = time.perf_counter()
    try:
        with tracer.span(op.kind):
            result = op.run(rec)
    except Exception:
        sample["latency_s"] = time.perf_counter() - t0
        errors.append(f"{op.kind}: {traceback.format_exc(limit=3)}")
        sample["failed"] = True
        log.append(sample)
        return sample
    sample["latency_s"] = time.perf_counter() - t0
    sample["host_steal_s"] = steal_s() - steal0
    if tracer.enabled:
        t_tr = time.perf_counter()
        sample["jvm.gc_s"] = (tracer.gc_ms() - gc0) / 1000.0
        tracer.drain()
        jobs = {g: tracer.jobs(g) for g in workloads.JOB_GROUPS}
        every = [j for js in jobs.values() for j in js]
        sample["builder_jobs"] = len(jobs["builder"])
        sample["spark.jobs"] = len(every)
        for k in SPARK_LAYERS:
            sample[k] = sum(j[k] for j in every)
        busy = tracing.busy_s(every)
        sample["spark.job_busy_s"] = busy
        sample["driver.gap_s"] = max(0.0, sample["latency_s"] - busy)
        if rec.final_df is not None:
            sample["catalyst.planning_s"] = tracing.catalyst_s(rec.final_df)
        sample["trace.overhead_s"] = time.perf_counter() - t_tr
    with tracer.span("check"):
        try:
            err = op.check(result, rec)
        except Exception:
            err = f"{op.kind} check: {traceback.format_exc(limit=3)}"
    sample.update(rec.layers)
    sample.update(rec.extra)
    if err:
        errors.append(err)
        sample["failed"] = True
    rec.final_df = None
    del result
    log.append(sample)
    return sample


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", default="")
    args = ap.parse_args()

    tracer = tracing.Tracer(enabled=bool(args.trace))
    ctx = Ctx(args, tracer)
    setup = {}
    with tracer.span("setup"):
        t = time.perf_counter()
        with tracer.span("session.start"):
            from blockchain2graphdb_spark.session import get_spark

            spark = ctx.spark = get_spark(f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
        setup["session.start_s"] = time.perf_counter() - t
        tracer.attach(spark)
        t = time.perf_counter()
        with tracer.span("registry.load"):
            from blockchain2graphdb_spark import registry

            ctx.specs = registry.load_all()
        setup["registry.load_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("fixtures.stage"):
            wl = workloads.make(args.workload, args.seed)
            wl.stage(ctx)
        setup["fixtures.stage_s"] = time.perf_counter() - t
    setup_s = time.perf_counter() - T_START

    log: list[dict] = []
    errors: list[str] = []
    n = 0

    def run_pass(ops, phase):
        nonlocal n
        out = []
        for op in ops:
            out.append(run_op(ctx, op, n, phase, log, errors))
            n += 1
        return out

    first = run_pass(wl.first_pass(ctx), "first")
    first_pass_s = sum(s["latency_s"] for s in first)
    run_pass(wl.warmup(ctx), "warmup")
    # timed window: whole passes, so that every operation type weighs the
    # same in every run, until the operations have taken --seconds
    window: list[dict] = []
    op_time = 0.0
    while op_time < args.seconds:
        got = run_pass(wl.next_pass(ctx), "timed")
        window += got
        op_time += sum(s["latency_s"] for s in got)

    ok = [s for s in window if not s.get("failed")]
    lat = per_type_medians(ok, "latency_s")
    e2e = {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (first_pass_s, "s"),
        "ops_per_s": (len(ok) / op_time, "1/s"),
        "op_latency_p50_s": (geomean(list(lat.values())) if lat else float("nan"), "s"),
    }
    if args.workload == "chain_sync":
        e2e["sync_latency_p50_s"] = (lat.get("sync", float("nan")), "s")
        e2e["stats_latency_p50_s"] = (lat.get("stats", float("nan")), "s")
    detail = {
        "timed_ops": len(window),
        "timed_op_seconds": op_time,
        "latency_p50_s_by_type": lat,
        "samples_by_type": {k: sum(1 for s in ok if s["kind"] == k) for k in lat},
        "timed_host_steal_s": sum(s["host_steal_s"] for s in window if "host_steal_s" in s),
    }

    layers = dict(setup)
    if tracer.enabled:
        names = sorted({k for s in ok for k in s} - {"kind", "phase", "latency_s", "failed", "host_steal_s"})
        by_name = {}
        for name in names:
            med = per_type_medians(ok, name)
            by_name[name] = med
            layers[name] = statistics.fmean(med.values())
        warm_builder = per_type_medians(ok, "builder_s")
        cold_builder = per_type_medians([s for s in first if not s.get("failed")], "builder_s")
        layers["builder.cold_extra_s"] = sum(
            cold_builder[k] - warm_builder[k] for k in cold_builder if k in warm_builder
        )
        detail["layers_by_type"] = by_name
        if args.spans:
            tracer.write(args.spans)

    sc = spark.sparkContext
    host = {
        "cores": sc.defaultParallelism,
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory", ""),
        "spark_version": sc.version,
        "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
    }
    result = {
        "attempted": len(log),
        "failed": sum(1 for s in log if s.get("failed")),
        "e2e": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "layers": layers,
        "detail": detail,
        "host": host,
        "errors": errors[:5],
        "samples": log,
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
