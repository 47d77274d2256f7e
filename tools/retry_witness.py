"""Task-retry / speculation determinism witness (VERDICT r14 #2).

The engine's oracle story rests on content-hash determinism; on a real
cluster tasks WILL re-execute (retries after lost executors,
speculative duplicates of stragglers). This witness proves the
representative key family reproduces bit-identical results when every
scan task's FIRST attempt is killed and re-executed:

  * `random_walk_sample`  — md5-hash-driven walk trajectories (the
    "randomness" must be content-addressed, not attempt-addressed);
  * `stream_sprt`         — order-sensitive stateful streaming fold
    (micro-batch task retry must not reorder or double-fold);
  * `eigenvector_centrality` — checkpointed iterative float kernel
    (per-round checkpoints must not capture attempt-dependent state);
  * `stream_multi_table_ingest` — multi-table atomic snapshot commit
    (task retry inside the commit batch must stay exactly-once);
  * `snapshot_cdc_diff`      — (r16, VERDICT r15 #6) SnapshotStore
    write -> partition overwrite -> CDF diff, REBUILT each leg (the
    content-keyed root is cleared) so the chaos run's task retries hit
    the store's stage/commit path, not a memoized store;
  * `tablegroup_lifecycle`   — (r16) witness-only builder, not a
    registry key: TableGroup commit x2 with an injected ORPHAN table
    version between them, then diff(g1, g2), vacuum() (which must
    reclaim exactly the orphan), and the post-vacuum read-back — the
    full catalog lifecycle executing with every scan task's first
    attempt killed.

Protocol per key: run CLEAN (no injection), canonical-hash the rows;
run again with SPARK_GRAFT_CHAOS=* (catalog._chaos_wrap raises on
TaskContext.attemptNumber()==0 in every fixture-table read) under a
`local[N,2]` master (spark.task.maxFailures=2) with aggressive
speculation enabled; assert (1) the chaos run's hash equals the clean
run's, and (2) the retry accumulator is > 0, i.e. retried attempts
actually produced output — the witness can never pass vacuously.

MUST run in its own process: the master string (retry budget) binds at
JVM start. tests/test_retry_determinism.py subprocesses this module
and asserts on the JSON line it prints.

Usage: python3 tools/retry_witness.py [sf_dir] [key ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

# retry budget + speculation MUST be in the environment before the
# session is created (they bind at JVM start)
os.environ.setdefault("SPARK_GRAFT_TASK_MAX_FAILURES", "2")
os.environ.setdefault("SPARK_GRAFT_SPECULATION", "1")
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

DEFAULT_KEYS = [
    "random_walk_sample",
    "stream_sprt",
    "eigenvector_centrality",
    "stream_multi_table_ingest",
    "snapshot_cdc_diff",
    "tablegroup_lifecycle",
]


def _tablegroup_lifecycle(spark, sf_dir: str):
    """Witness-only builder (NOT a registry key — the registry is
    frozen): the TableGroup catalog lifecycle under the chaos seam.

    commit b0 (ord v1 + summary v1) -> a DIRECT store append that
    bumps ord to v2 with no group pin (simulating a writer that lost
    the group CAS after its per-table commit — the orphan vacuum()
    exists to reclaim) -> commit b1 (rebases onto the v1 pin -> ord
    v3) -> group diff(g1, g2) -> vacuum() (must reclaim exactly ord
    v2) -> post-vacuum read-back of both tables. Every source read
    goes through catalog.table, so under SPARK_GRAFT_CHAOS each scan
    task's first attempt dies and the staged snapshot files are
    written by RETRIED attempts; the returned frame folds the final
    table states, the change feed, and the reclaimed-version count,
    all of which must hash identically to the clean run."""
    import shutil

    from pyspark.sql import functions as F

    from blockchain2graphdb_spark.catalog import table
    from blockchain2graphdb_spark.paths import tmp_root
    from blockchain2graphdb_spark.sources.snapshots import TableGroup

    root = os.path.join(tmp_root(), "retrywit_group")
    shutil.rmtree(root, ignore_errors=True)
    g = TableGroup(root)
    orders = table(spark, sf_dir, "orders")

    def slice_(r):
        return orders.where(F.col("o_orderkey") % 3 == r).select(
            "o_orderkey", "o_custkey"
        )

    def agg(df):
        return df.groupBy((F.col("o_custkey") % 10).alias("b")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )

    lo, mid, orphan = slice_(0), slice_(1), slice_(2)
    g.commit({"ord": lo, "summary": agg(lo)}, op="b0")
    g.store("ord").append(orphan)  # orphan: table version with no group pin
    g.commit({"ord": mid, "summary": agg(mid)}, op="b1")
    feeds = g.diff(spark, 1, 2)
    removed = g.vacuum()
    assert removed.get("ord"), f"vacuum reclaimed nothing: {removed}"
    final = g.read(spark, "ord").groupBy((F.col("o_custkey") % 10).alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("n_ord")
    )
    summ = g.read(spark, "summary").groupBy("b").agg(
        F.sum("n").cast("long").alias("n_sum")
    )
    chg = (
        feeds["ord"]
        .groupBy((F.col("o_custkey") % 10).alias("b"), "_change")
        .agg(F.count(F.lit(1)).cast("long").alias("n_chg"))
        .groupBy("b")
        .agg(F.sum("n_chg").cast("long").alias("n_chg"))
    )
    return (
        final.join(summ, "b")
        .join(chg, "b")
        .withColumn("n_reclaimed", F.lit(len(removed["ord"])).cast("long"))
    )


def canonical_hash(df) -> tuple[str, int]:
    """Order-insensitive value hash of a DataFrame (same spirit as the
    driver's gate: stringify every cell, sort rows, sha256)."""

    def cell(v):
        if v is None:
            return "\x00"
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    rows = sorted("\x1f".join(cell(v) for v in r) for r in df.collect())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    keys = sys.argv[2:] or DEFAULT_KEYS

    from blockchain2graphdb_spark import catalog, registry
    from blockchain2graphdb_spark.session import get_spark

    spark = get_spark("retry-witness")
    assert ",2]" in spark.sparkContext.master, spark.sparkContext.master
    specs = dict(registry.load_all())

    class _Spec:
        def __init__(self, fn):
            self.builder = fn

    # witness-only lifecycle builder (see docstring; registry frozen)
    specs["tablegroup_lifecycle"] = _Spec(_tablegroup_lifecycle)

    def reset_session_reuse(key: str) -> None:
        """Clear session-scoped memos and content-keyed sink roots so
        BOTH the clean and the chaos run recompute from the fixture
        scans — otherwise the second run reuses checkpointed edges /
        already-committed group logs, the wrap never executes, and the
        non-vacuity guard (rightly) fails the witness."""
        from blockchain2graphdb_spark.plans import memo

        memo.reset()
        if key == "stream_multi_table_ingest":
            import glob
            import shutil

            from blockchain2graphdb_spark.paths import tmp_root

            for p in glob.glob(os.path.join(tmp_root(), "mtgroup_*")):
                shutil.rmtree(p, ignore_errors=True)
        if key == "snapshot_cdc_diff":
            # clear the content-keyed store root (paths.derived_dir keys
            # it on the orders identity) so BOTH legs rebuild (the chaos
            # leg's retries must hit the stage/commit path)
            import glob
            import shutil

            from blockchain2graphdb_spark.paths import tmp_root

            for p in glob.glob(os.path.join(tmp_root(), "snap_cdc_*")):
                shutil.rmtree(p, ignore_errors=True)

    results: dict[str, dict] = {}
    ok = True
    for key in keys:
        os.environ.pop("SPARK_GRAFT_CHAOS", None)
        reset_session_reuse(key)
        clean_hash, clean_rows = canonical_hash(specs[key].builder(spark, sf_dir))

        before = catalog.chaos_retry_count()
        os.environ["SPARK_GRAFT_CHAOS"] = "*"
        reset_session_reuse(key)
        try:
            chaos_hash, chaos_rows = canonical_hash(specs[key].builder(spark, sf_dir))
        finally:
            os.environ.pop("SPARK_GRAFT_CHAOS", None)
        retried = catalog.chaos_retry_count() - before

        row = {
            "clean_rows": clean_rows,
            "chaos_rows": chaos_rows,
            "hash_equal": clean_hash == chaos_hash,
            "retried_tasks": retried,
            "pass": clean_hash == chaos_hash and retried > 0,
        }
        results[key] = row
        ok = ok and row["pass"]
        print(f"# {key}: {row}", file=sys.stderr)

    print(json.dumps({"metric": "retry_witness", "sf_dir": sf_dir,
                      "keys": results, "pass": ok}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
