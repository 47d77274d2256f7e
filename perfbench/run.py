"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. It builds the
generated parquet fixture on first use, refuses to start while a pytest
run or another Spark JVM is live, then runs the workload in a fresh
worker process sized to the host (SPARK_GRAFT_CPUS = cores available,
Spark local dirs and temporary files under perfbench/.work, the checkout
on PYTHONPATH). While the
worker runs it samples the resident memory and CPU time of the worker's
whole process tree (Python driver, JVM, Python workers) from /proc, and
the CPU time the host spends outside that tree. It prints one detail
line, then the result line: {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) of BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TIMEOUT_S = 170
SAMPLE_S = 0.2
DRIVER_MEMORY = "1g"
PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")
WORKLOADS = ("graph_iterative", "query_mix", "chain_sync")

END_TO_END = ("setup_s", "first_pass_s", "ops_per_s", "op_latency_p50_s", "peak_rss_mb")
PER_LAYER_UNITS = {
    "session.start_s": "s", "registry.load_s": "s", "fixtures.stage_s": "s",
    "builder_s": "s", "builder_jobs": "count", "builder.cold_extra_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_busy_s": "s", "driver.gap_s": "s", "action_s": "s",
    "catalyst.planning_s": "s", "spark.executor_run_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "jvm.gc_s": "s", "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()  # fields from 3 (state) on


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _cmdline(pid: int) -> list[str]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return [a.decode(errors="replace") for a in f.read().split(b"\0") if a]
    except OSError:
        return []


def _ancestors() -> set[int]:
    out, pid = set(), os.getpid()
    while pid > 1:
        out.add(pid)
        st = _stat(pid)
        if st is None:
            break
        pid = int(st[1])
    return out


def busy_processes() -> list[str]:
    """pytest runs and Spark JVMs outside this process's own lineage."""
    mine = _ancestors()
    found = []
    for pid in _pids():
        if pid in mine:
            continue
        argv = _cmdline(pid)
        text = " ".join(argv)
        is_pytest = any(os.path.basename(a) in ("pytest", "py.test") for a in argv[:2]) or (
            "-m pytest" in text
        )
        is_spark = "org.apache.spark.deploy.SparkSubmit" in text
        if is_pytest or is_spark:
            found.append(f"{pid}: {text[:120]}")
    return found


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of this host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / TICK, v[7] / TICK


class TreeSampler:
    """Resident memory of a process and all its descendants, and the CPU
    time spent inside and outside that tree between samples."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.mine = _ancestors()
        self.seen: dict[int, str] = {}  # pid -> start time, to spot reuse
        self.last: dict[tuple, float] = {}  # (pid, start) -> CPU seconds
        self.tree_cpu = self.outside_cpu = 0.0
        self.peak_rss = 0

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        stats = {}
        for pid in _pids():
            st = _stat(pid)
            if st is not None:
                stats[pid] = st
                children.setdefault(int(st[1]), []).append(pid)
        tree, todo = set(), [self.root]
        while todo:
            p = todo.pop()
            if p in stats:
                tree.add(p)
                todo += children.get(p, [])
        rss = 0
        cpu = {}
        for pid, st in stats.items():
            key = (pid, st[19])
            cpu[key] = (int(st[11]) + int(st[12])) / TICK
            delta = cpu[key] - self.last.get(key, cpu[key] if not self.last else 0.0)
            if pid in tree or pid in self.mine:
                self.tree_cpu += delta
            else:
                self.outside_cpu += delta
            if pid in tree:
                self.seen.setdefault(pid, st[19])
                rss += int(st[21]) * PAGE
        self.last = cpu
        self.peak_rss = max(self.peak_rss, rss)

    def alive(self) -> list[int]:
        out = []
        for pid, start in self.seen.items():
            st = _stat(pid)
            if st is not None and st[19] == start and st[0] != "Z":
                out.append(pid)
        return out

    def reap(self, grace_s: float = 15.0) -> None:
        """Wait for every process of the tree to end; kill stragglers."""
        deadline = time.monotonic() + grace_s
        while self.alive() and time.monotonic() < deadline:
            time.sleep(0.2)
        for sig in (signal.SIGTERM, signal.SIGKILL):
            left = self.alive()
            if not left:
                return
            for pid in left:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            time.sleep(1.0)


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return ""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "blockchain2graphdb_spark", "__init__.py")):
        print("perfbench: blockchain2graphdb_spark/ not found beside perfbench/; "
              "run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    busy = busy_processes()
    if busy:
        print("perfbench: refusing to start while these run:\n  " + "\n  ".join(busy),
              file=sys.stderr)
        return 3

    sys.path.insert(0, HERE)
    import datagen

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    data_dir = os.path.join(WORK, f"data-{datagen.DATA_SEED}")
    t = time.perf_counter()
    built = datagen.ensure(data_dir)
    build_s = time.perf_counter() - t

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out_dir = os.path.join(WORK, "out")
    stage_dir = os.path.join(WORK, "stage", tag)
    local_dir = os.path.join(WORK, "spark-local")
    tmp_dir = os.path.join(WORK, "tmp", tag)
    for d in (out_dir, local_dir):
        os.makedirs(d, exist_ok=True)
    for d in (stage_dir, tmp_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    result_path = os.path.join(out_dir, f"{tag}.json")
    if os.path.exists(result_path):
        os.remove(result_path)

    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": local_dir,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        # keep the JVM's and Python's temporary files inside the checkout
        "TMPDIR": tmp_dir,
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp_dir}", "-XX:-UsePerfData",
        ])),
    })
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data_dir, "--stage", stage_dir, "--result", result_path,
    ]
    if args.trace:
        cmd += ["--spans", os.path.join(out_dir, f"{tag}.spans.jsonl")]

    load0, cpu0 = _read("/proc/loadavg"), host_cpu_s()
    log_path = os.path.join(out_dir, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
        sampler = TreeSampler(proc.pid)
        deadline = time.monotonic() + TIMEOUT_S
        while proc.poll() is None:
            sampler.sample()
            if time.monotonic() > deadline:
                proc.kill()
                break
            time.sleep(SAMPLE_S)
        rc = proc.wait()
    sampler.reap()
    cpu1 = host_cpu_s()
    for d in (stage_dir, tmp_dir):
        shutil.rmtree(d, ignore_errors=True)

    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        print(f"perfbench: worker exited with {rc}; log {log_path}:\n{tail}", file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)

    witness = {
        "loadavg_start": load0,
        "loadavg_end": _read("/proc/loadavg"),
        "cpu_pressure": _read("/proc/pressure/cpu").splitlines()[:1],
        "host_busy_cpu_s": round(cpu1[0] - cpu0[0], 2),
        "host_steal_cpu_s": round(cpu1[1] - cpu0[1], 2),
        "tree_cpu_s": round(sampler.tree_cpu, 2),
        "outside_cpu_s": round(sampler.outside_cpu, 2),
    }
    e2e = dict(res["e2e"])
    e2e["peak_rss_mb"] = {"value": sampler.peak_rss / (1024 * 1024), "unit": "MB"}
    e2e["error_rate"] = {"value": res["failed"] / res["attempted"], "unit": "ratio"}
    if args.trace:
        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
        # tracing overhead: against the untraced run of the same seed, else
        # the latest untraced run of the workload
        same = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t0.json")
        untraced = [same] if os.path.exists(same) else sorted(
            glob.glob(os.path.join(out_dir, f"{args.workload}-s*-t0.json")), key=os.path.getmtime
        )[-1:]
        if untraced:
            with open(untraced[0]) as f:
                base = json.load(f)["e2e"]
            res["detail"]["tracing_overhead"] = {
                "against": os.path.basename(untraced[0]),
                **{k: e2e[k]["value"] / base[k]["value"] - 1.0
                   for k in ("first_pass_s", "ops_per_s", "op_latency_p50_s")},
            }
    else:
        metrics = {k: e2e[k] for k in END_TO_END}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": res["host"], "witness": witness,
        "fixture_build_s": round(build_s, 3) if built else 0.0,
        "end_to_end": e2e,
        **res["detail"], "errors": res["errors"],
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
