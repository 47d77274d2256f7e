"""Deterministic Independent-Cascade diffusion over the co-purchase
graph (round 11, G-family extension): the influence-propagation
primitive behind seed-set selection / influence-maximization — "if
these k products seed a promotion, how far does adoption spread?".

The IC model's per-edge coin flips are DERANDOMIZED the md5 way
(random_walk_sample / centrality discipline): directed edge (u, v) is
live iff the first nibble of md5('ic' || u || ':' || v) < 8 (p = 0.5),
so Spark and DuckDB replay the identical cascade — no RNG state, and
the live subgraph is a pure per-edge expression, growth-stable under
data appends. Seeds are the 4 smallest-md5 nodes (content-hash
sampling). The cascade is the standard bounded-horizon frontier loop:
3 unrolled rounds of (live-edge expand → distinct → anti-join seen),
i.e. a BFS over the live subgraph — each round is one keyed shuffle
plus a map-side-combinable distinct; nothing is per-seed or pairwise.

Reference parity: the reference has no diffusion surface (its graph
API stops at Gremlin traversals); this extends the mandated graph
analytics the same way betweenness_approx did (centrality.py).

100 TB shape: identical to bfs_distance/closeness — the frontier is a
node-set DataFrame, edges are re-read map-side from the checkpointed
pair table, rounds are bounded (horizon 3), and each round's frontier
is eagerly localCheckpoint'ed (checkpoint-lifecycle rule, STATUS r8)
so no round re-executes its predecessors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..exact import md5_int
from ..plans.iterate import local_checkpoint
from ..registry import query
from .graphops import _bfs_levels, _copurchase_pairs, _pair_nodes, _sym_edges

_IC_SEEDS = 4
_IC_ROUNDS = 3


def _live_filter_spark(src: str, dst: str):
    return md5_int("ic", F.col(src), ":", F.col(dst), digits=1) < 8


def _ic_oracle() -> str:
    parts = [
        f"""
    pr AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pr UNION ALL SELECT b, a FROM pr
    ),
    live AS MATERIALIZED (
      SELECT src, dst FROM sym
      WHERE ('0x' || substr(md5('ic' || CAST(src AS VARCHAR) || ':'
                                || CAST(dst AS VARCHAR)), 1, 1))::BIGINT < 8
    ),
    nodes AS (SELECT DISTINCT src AS n FROM sym),
    a0 AS MATERIALIZED (
      SELECT n AS node FROM nodes
      ORDER BY md5(CAST(n AS VARCHAR)), n LIMIT {_IC_SEEDS}
    )"""
    ]
    for h in range(1, _IC_ROUNDS + 1):
        anti = " AND ".join(
            f"NOT EXISTS (SELECT 1 FROM a{j} WHERE a{j}.node = c.node)"
            for j in range(h)
        )
        parts.append(
            f"""
    a{h} AS MATERIALIZED (
      SELECT c.node FROM (
        SELECT DISTINCT l.dst AS node
        FROM a{h - 1} f JOIN live l ON l.src = f.node
      ) c WHERE {anti}
    )"""
        )
    union = " UNION ALL ".join(
        f"SELECT {h} AS round, CAST(COUNT(*) AS BIGINT) AS n_activated FROM a{h}"
        for h in range(_IC_ROUNDS + 1)
    )
    return ",".join(parts) + f"\n    SELECT * FROM ({union}) ORDER BY round"


@query("influence_cascade", oracle="WITH " + _ic_oracle())
def influence_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round adoption counts of a deterministic Independent Cascade
    from 4 content-hash seeds over the p=0.5 live co-purchase subgraph,
    horizon 3. See module docstring for the derandomization and the
    scale shape; the oracle replays the identical cascade as unrolled
    MATERIALIZED CTEs (the wallet-CC linear-oracle pattern)."""
    from ..catalog import parquet_num_rows
    from ..plans.confs import scoped_confs
    from ..plans.sizing import broadcast_hint

    pairs, n_edges = _copurchase_pairs(spark, sf_dir)
    # The eigenvector_centrality lesson (ARCHITECTURE §10): the 3-round
    # frontier loop over a ~30 MB graph is dominated by per-stage
    # scheduling, not compute — scope AQE off (its per-stage replan
    # latency buys nothing on static bounded rounds) and size the
    # shuffle to the edge list. Re-measured with a warm codegen cache
    # (sf0.01, 1g driver, 4 cores, warm median of 5 calls, 4
    # alternating rounds): dropping both scoped confs takes this key
    # from 15 to 22 Spark jobs and 1.47 s to 1.59 s (slower in 3 of 4
    # rounds). On a 4-core session the partition count resolves to
    # max(4, min(4, ...)) = 4, the session default: a no-op there.
    # Frontier/seen broadcasts stay behind the adaptive gate: they are
    # node-sized, so at 100 TB the joins degrade to keyed shuffles.
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nparts = max(4, min(default_parts, (2 * (n_edges or 0)) // 75_000 or 4))
    with scoped_confs(
        spark,
        {
            "spark.sql.shuffle.partitions": str(nparts),
            "spark.sql.adaptive.enabled": "false",
        },
    ):
        # r16: checkpoint the live subgraph ONCE — all 3 rounds probe
        # it, and without the checkpoint each round re-evaluated the
        # per-edge md5 coin flip over the full 2|E| symmetric list
        # (profiled: three 5-8s executor-runtime stages re-reading the
        # pair blocks; one md5 pass + two cheap checkpoint reads after)
        live = local_checkpoint(_sym_edges(pairs).where(_live_filter_spark("src", "dst")))
        seeds = local_checkpoint(
            _pair_nodes(pairs)
            .orderBy(F.md5(F.col("n").cast("string")), "n")
            .limit(_IC_SEEDS)
            .select(F.col("n").alias("node"))
        )
        # frontier and seen hold at most one row per part
        hint = broadcast_hint(spark, parquet_num_rows(sf_dir, "part"), seeds.schema)

        def expand(frontier: DataFrame) -> DataFrame:
            return (
                live.join(hint(frontier), live["src"] == frontier["node"])
                .select(F.col("dst").alias("node"))
                .distinct()
            )

        levels = _bfs_levels(seeds, expand, ["node"], _IC_ROUNDS, hint)
        counts = [(h, lv.count()) for h, lv in enumerate(levels)]
    # Arrow local relation, not a pickled RDD: the 4-row result used to
    # cost a 32-task Python-worker job PER ACTION (plans/localrel.py)
    from ..plans.localrel import local_rows_df

    return local_rows_df(
        spark, [(int(r), int(c)) for r, c in counts], "round int, n_activated long"
    )
