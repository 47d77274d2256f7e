"""SparkSession factory (used by tests and bench; the driver supplies its
own session to `__spark_entry__` callables).

Defaults follow the 100 TB design stance scaled to local mode:
AQE on (runtime join-strategy switch / skew split / partition coalesce),
Arrow on (vectorized Python interchange), shuffle partitions sized to the
core count instead of the 200 default, UTC session time zone so timestamp
semantics are deterministic.

PySpark's DataFrame call-site capture is off. With it on, every Column
and DataFrame method call records its Python call site on the JVM
(about five py4j round trips plus a failed `import IPython` per call);
the iterative loops build thousands of such calls per key. The price is
that analysis errors lose their "== DataFrame ==" Python call-site
section. A caller who needs it builds its own session with
`spark.python.sql.dataFrameDebugging.enabled=true`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "blockchain2graphdb-spark") -> SparkSession:
    # default: the cores this process may run on, not the host's total
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    # Local mode pins spark.task.maxFailures to 1 unless the master
    # string itself carries a retry budget (`local[N,F]`). The retry
    # witness (tools/retry_witness.py, VERDICT r14 #2) sets this to 2+
    # so injected first-attempt task failures re-execute instead of
    # failing the job — the cluster default (4) is the behavior being
    # modeled. Normal runs leave it unset: fail-fast surfaces real
    # bugs immediately at fixture scale.
    max_failures = os.environ.get("SPARK_GRAFT_TASK_MAX_FAILURES", "")
    master = f"local[{cpus},{int(max_failures)}]" if max_failures else f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # read once per process by pyspark.errors.utils, so a session
        # conf (catalog.prep) would come too late
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    max_result = os.environ.get("SPARK_GRAFT_MAX_RESULT", "")
    if max_result:
        # Driver-materialization guard (VERDICT r14 #4): cap the bytes
        # any single action may return to the driver. The differential
        # harness pairs this with executor-side parquet readout, so a
        # key that trips the cap has a HIDDEN driver bottleneck (an
        # unbounded collect inside the operator), not a big result.
        builder = builder.config("spark.driver.maxResultSize", max_result)
    if os.environ.get("SPARK_GRAFT_SPECULATION", "0") == "1":
        # Retry witness only: speculative duplicates of slow tasks run
        # concurrently with the originals; commit-once semantics must
        # keep results identical. Aggressive thresholds so speculation
        # actually triggers at fixture scale.
        builder = (
            builder.config("spark.speculation", "true")
            .config("spark.speculation.multiplier", "1.2")
            .config("spark.speculation.quantile", "0.5")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
