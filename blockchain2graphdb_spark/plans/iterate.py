"""Lineage/statistics control for iterative DataFrame fixpoints.

The round-7 finding this module exists for (diagnosed with jstack +
per-round stats probes; see STATUS.md): Spark 4.x's
`Dataset.localCheckpoint` PRESERVES the origin plan's estimated
statistics on the resulting LogicalRDD. In an iterative algorithm the
per-round plan joins the loop-carried table with projections of itself,
and Catalyst's size-only join estimate is the PRODUCT of the children's
`sizeInBytes` BigInts — so the preserved estimate roughly SQUARES every
round. The BigInt's bit length doubles per round (measured: 25 → 48 →
96 → ... → 12,099 bits by round 9) and Karatsuba/Toom-Cook
multiplication inside the driver's plan analysis goes exponential:
~0.3 s/round through round 15, then 2 s, 5 s, 25 s, 83 s. Every
executed artifact stays constant (2 jobs / 2 stages / 64 tasks per
round, lineage 7 lines, physical plan unchanged) — the blow-up is
purely driver-side arithmetic on estimates nobody uses, and it would
hit a 1000-executor cluster exactly as hard as local[32] because it
serializes on the driver.

`local_checkpoint(df)` checkpoints and then rebuilds the LogicalRDD
WITHOUT the origin statistics (restoring the pre-3.5 "checkpoint loses
stats" behavior this codebase was already designed around — every
iterative operator gates its broadcasts explicitly with row counts,
never through Catalyst auto-broadcast). Estimates then pin
at defaultSizeInBytes (63 bits) and round time stays flat (measured:
0.1 s/round over 40 rounds, was 83 s at round 24).

The rebuild touches Spark internals (`LogicalRDD`, `Dataset.ofRows`) —
public Apache Spark classes, but not stable API — so it is fully
fenced: any failure falls back to the plain checkpoint, which is
correct, just slow past ~15 rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .fallback import warn_once


def observed_checkpoint(df: DataFrame, metric):
    """Checkpoint with a convergence/size metric computed DURING
    materialization: `observe()` metrics are collected by the eager
    localCheckpoint's own job (measured: Observation.get returns in
    ~40ms with no extra job), so per-round fixpoint probes cost zero
    jobs — previously each probe was a separate limit(1).count() over
    the fresh checkpoint blocks. Eager materialization is MANDATORY
    here twice over: it is what delivers the metric, and it is the
    accumulator-lifecycle rule (see local_checkpoint below / STATUS).
    Returns (checkpointed df with stats reset, metric value)."""
    obs = Observation()
    ck = local_checkpoint(df.observe(obs, metric.alias("m")))
    return ck, obs.get["m"]


def local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager `df.localCheckpoint()` with the origin-statistics chain cut.

    Use inside iteration loops (one call per round on the loop-carried
    table). One-shot checkpoints outside loops call
    `df.localCheckpoint(eager=True)` and keep Spark's default behavior —
    preserved stats are harmless (and occasionally useful to Catalyst)
    when they are never squared.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        spark = ck.sparkSession
        plan = ck._jdf.queryExecution().analyzed()
        jvm = spark._jvm
        none = jvm.scala.Option.empty()
        stripped = jvm.org.apache.spark.sql.execution.LogicalRDD(
            plan.output(),
            plan.rdd(),
            plan.outputPartitioning(),
            plan.outputOrdering(),
            plan.isStreaming(),
            plan.stream(),
            spark._jsparkSession,
            none,  # originStats — the whole point
            none,  # originConstraints — recomputed trivially for a leaf
        )
        jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, stripped
        )
        out = DataFrame(jdf, spark)
        # Pin the ORIGINAL checkpointed Dataset to the rebuilt frame's
        # lifetime. The internal RDD's task closures update the origin
        # plan's SQL-metric accumulators (registered via weak refs);
        # without this pin the origin is garbage the moment we return,
        # and any task that runs the RDD after that floods the driver
        # log with "attempted to access non-existent accumulator"
        # errors (observed with lazy checkpoints: 1.6k log lines in one
        # bench run). Results were never affected — only metrics and
        # log noise — but the pin removes the race entirely.
        out._b2g_ckpt_origin = ck
        return out
    except Exception:
        # internals moved (future Spark) — correct but slow fallback.
        # Warn once so the exponential driver-side stats blow-up past
        # ~15 rounds is discoverable instead of a silent perf cliff.
        warn_once(
            "local_checkpoint",
            "LogicalRDD stats-reset rebuild failed (Spark internals "
            "changed?); falling back to plain localCheckpoint. Iterative "
            "fixpoints may slow down exponentially past ~15 rounds.",
        )
        return ck
