"""Iterative graph algorithms as DataFrame fixpoints (SURVEY.md §4.3.1).

Catalyst has no fixpoint operator, so the two genuinely iterative pieces
of the surface live here:

* `connected_components` — Shiloach–Vishkin-style rounds over an
  undirected edge list: hash-min (one edge pass), root hooking (node
  aggregate by old label), full path compression (pointer jumping to
  closure). O(log n) outer rounds on any topology — including
  high-diameter chains, where plain min-label propagation needs
  O(diameter) rounds. Lineage AND preserved size statistics are cut
  with `plans.iterate.local_checkpoint` every round (the two classic
  iterative-DataFrame failure modes: plan growth, and Spark 4.x's
  checkpoint-preserved stats squaring through self-joins into
  exponential driver-side BigInt math). At 100 TB the same loop holds:
  the edge list is touched once per outer round, hooking/compression
  touch only node-sized tables, skewed mega-components are handled by
  AQE skew splitting on the join key, and convergence is detected with
  a cheap aggregate rather than a collect of the frontier.

* `list_rank` — pointer-jumping (path doubling) over parent links:
  O(log chain-length) self-joins instead of the reference's O(n)
  parent-at-a-time walk (B:43–46 repeat/until, B:392–412 buffer sort).

This implements what the reference only stubbed: wallet clustering
(AddressWalletID, TransactionGraph.java:137, is declared but never
computed — BlockchainToGraph.java:29/58/896 leave the counter at 0).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.iterate import local_checkpoint, observed_checkpoint
from ..plans.sizing import broadcast_hint


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    broadcast_nodes: int | None = None,
    canonical: bool = False,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Undirected connected components; returns (node, component) where
    component = min node id in the component. Deterministic.

    Checkpointed plans surface as LogicalRDDs with no size statistics,
    so Catalyst (and AQE) never broadcast the per-node label table and
    every round shuffles the full edge list. The node count is known
    after the first materialization — when it fits comfortably in the
    driver/executors (<= broadcast_nodes), hint `broadcast` on the
    label side explicitly: each round then streams the checkpointed
    edges map-side with zero edge shuffle. Past the threshold the hint
    is dropped and rounds run as keyed shuffles with AQE skew handling
    — the 100 TB path.

    canonical=True declares every input edge oriented src < dst
    (true for star-contraction and a<b candidate-pair builders), so
    symmetrization cannot put one pair in both orientations and the
    whole-edge-list dedup shuffle is skipped — at 100 TB that is a
    full extra pass over the largest table in the job. Duplicate rows
    are permitted and absorbed by the min-label aggregation; callers
    whose duplication factor is small (a handful per group) should
    NOT pre-distinct — the dedup shuffle costs more than the
    duplicates inflate the rounds (measured on wallet_components).
    """
    directed = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    sym = directed.union(
        directed.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    if not canonical:
        sym = sym.distinct()  # single dedup pass after symmetrization
    # eager checkpoint (accumulator-lifecycle rule, STATUS r8) with the
    # driver-short-circuit gate count riding the materialization job as
    # an observe() metric — no separate count job
    sym, n_edges = observed_checkpoint(sym, F.count(F.lit(1)))

    # tiny graphs short-circuit to a driver-side labeling: the
    # distributed loop costs a handful of jobs per round, which
    # dominates below ~10^5 edges (e.g. the verified-pair graphs of
    # near-dup dedup). Same labels (component = min member) either way;
    # driver_threshold=0 forces the distributed loop (two-path
    # equivalence is pinned in tests, mirroring chain/taint.py).
    if n_edges <= driver_threshold:
        return _driver_components(sym)

    # initial labels = least(node, min neighbor), one groupBy over the
    # symmetrized edges — this FOLDS the first outer round's hash-min
    # into initialization with ZERO edge joins (with identity labels,
    # min-over-neighbors needs no label join, and round-1 hooking
    # grouped by the identity label is a no-op). Any initialization
    # that is <= node and stays inside the component preserves the
    # loop's invariants (labels decrease monotonically toward the
    # component min; convergence still detected by changed == 0).
    # Checkpointed with the node count riding the job: the loop
    # re-reads this table every round anyway.
    comp, n_nodes = observed_checkpoint(
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("mb"))
        .select("node", F.least(F.col("node"), F.col("mb")).alias("comp")),
        F.count(F.lit(1)),
    )
    hint = broadcast_hint(edges.sparkSession, n_nodes, comp.schema, broadcast_nodes)

    # Shiloach–Vishkin-style union-find in rounds; each outer round:
    #   (1) hash-min — every node takes the min label over itself and
    #       its neighbors (the ONE pass over the edge list);
    #   (2) hooking — the min of the new labels, grouped by OLD label,
    #       is applied to the old label's ROOT node, so whole label
    #       trees link across their boundary edges (without this, the
    #       root never learns the neighboring region's min and the min
    #       crawls one hop per round — the r6 formulation had exactly
    #       that flaw and silently returned partial labels on a
    #       150-node chain when max_iter ran out; caught by this
    #       round's two-path equivalence test);
    #   (3) full path compression — comp := comp[comp] to closure over
    #       the node-sized label table (pointer jumping, depth halves
    #       per jump).
    # Converges in O(log n) outer rounds on any topology (simulated:
    # 1 round on monotone 10k paths, 9 on a random-id 10k path, 3 on
    # sparse random graphs). Edge joins — the 100 TB cost — happen once
    # per outer round; hooking and compression touch only node-sized
    # tables. If max_iter is ever exhausted the loop RAISES rather than
    # return partial labels.
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            sym.join(hint(comp), sym.b == comp.node)
            .select(F.col("a").alias("node"), "comp")
            .groupBy("node")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new1 = comp.join(hint(nbr_min), "node", "left").select(
            "node",
            "comp",
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("new1"),
        )
        root_min = new1.groupBy(F.col("comp").alias("root")).agg(
            F.min("new1").alias("root_min")
        )
        # the outer fixpoint probe rides the checkpoint job (observe):
        # hooking+compression converge in O(log n) rounds, and the
        # compression inner loop below is skipped entirely on the last
        stepped, changed = observed_checkpoint(
            new1.join(hint(root_min), new1.node == root_min.root, "left").select(
                "node",
                "comp",
                F.least(
                    F.col("new1"), F.coalesce(F.col("root_min"), F.col("new1"))
                ).alias("new_comp"),
            ),
            F.count(F.when(F.col("new_comp") != F.col("comp"), 1)),
        )
        comp = stepped.select("node", F.col("new_comp").alias("comp"))
        if changed == 0:
            converged = True
            break
        for _j in range(max_iter):
            lut = comp.select(F.col("node").alias("lk"), F.col("comp").alias("lv"))
            jumped, still_moving = observed_checkpoint(
                comp.join(hint(lut), comp.comp == lut.lk, "left").select(
                    "node",
                    "comp",
                    F.coalesce(F.col("lv"), F.col("comp")).alias("new_comp"),
                ),
                F.count(F.when(F.col("new_comp") != F.col("comp"), 1)),
            )
            comp = jumped.select("node", F.col("new_comp").alias("comp"))
            if still_moving == 0:
                break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter}"
            " rounds — partial labels would be silently wrong"
        )
    return comp


def _driver_components(sym: DataFrame) -> DataFrame:
    """(node, comp) of a small symmetrized edge list (a, b), labeled on
    the driver with NumPy; comp = min member, as on the distributed path.

    The edges arrive as one Arrow fetch (a pickled-Row collect costs ~8x
    more), ids become dense ranks via `np.unique` (sorted, so the min
    rank is the min id for any sortable id type), and the loop is the
    distributed one in array form: hash-min over neighbours plus hooking
    of each label's root, then pointer jumping to closure, until no
    label moves. Labels only ever decrease and stay inside the
    component, so the fixpoint labels every component with its min
    member. The result is an Arrow local relation: a LocalTableScan,
    with no pickled RDD and no Python workers at action time.
    """
    edges = sym.toArrow()
    a, b = (edges.column(i).to_numpy() for i in (0, 1))
    nodes, dense = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = dense[: len(a)], dense[len(a) :]
    comp = np.arange(len(nodes))
    while True:
        new = comp.copy()
        np.minimum.at(new, ia, comp[ib])  # hash-min
        np.minimum.at(new, comp[ia], comp[ib])  # hooking
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, comp):
            break
        comp = new
    id_type = edges.schema.field(0).type
    labels = pa.table(
        [pa.array(nodes, type=id_type), pa.array(nodes[comp], type=id_type)],
        names=sym.columns,
    )
    return sym.sparkSession.createDataFrame(labels, sym.schema).toDF("node", "comp")


def list_rank(
    links: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent",
    broadcast_nodes: int | None = None,
    max_iter: int = 64,
) -> DataFrame:
    """Position of each node in its chain (1-based), from (id, parent)
    links alone, parent NULL at the head. Pointer jumping with THREE
    chained compositions per checkpointed round (stride d -> 4d per
    barrier, all probing one shared broadcast of the round's table), so
    a chain of length L resolves in ceil(log4 L) checkpoint barriers.

    Same checkpoint-loses-stats story as connected_components: the
    lookup side of each self-join is hinted broadcast while the node
    count (known after the first materialization) stays under
    broadcast_nodes; above it, shuffled self-joins.

    The liveness probe rides the per-round checkpoint job as an
    `observe()` metric (zero extra jobs), so the loop exits exactly at
    resolution. max_iter (chains up to 2^64) is a divergence
    backstop only.
    """
    # eager checkpoint with the hint-sizing count riding the job
    cur, n_nodes = observed_checkpoint(
        links.select(
            F.col(id_col).alias("id"),
            F.col(parent_col).alias("ptr"),
            F.when(F.col(parent_col).isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .alias("dist"),
        ),
        F.count(F.lit(1)),
    )
    hint = broadcast_hint(links.sparkSession, n_nodes, cur.schema, broadcast_nodes)

    def jump(base: DataFrame, lk: DataFrame) -> DataFrame:
        # one pointer-jump composition against lk: ptr := lk[ptr].ptr,
        # dist += lk[ptr].dist (resolved rows pass through unchanged)
        return base.join(hint(lk), base["ptr"] == F.col("b_id"), "left").select(
            base["id"].alias("id"),
            F.when(base["ptr"].isNull(), F.lit(None))
            .otherwise(F.col("b_ptr"))
            .alias("ptr"),
            (
                base["dist"]
                + F.when(
                    base["ptr"].isNull() | F.col("b_dist").isNull(), F.lit(0)
                ).otherwise(F.col("b_dist"))
            ).alias("dist"),
        )

    for i in range(max_iter):
        # THREE chained jumps per checkpointed round (r9): if cur's
        # pointers cover stride d, each jump against cur adds d more,
        # so one round takes the stride from d to 4d — chains of
        # length L resolve in ceil(log4 L) barriers instead of
        # ceil(log2 L). CRITICAL: all three joins must probe the SAME
        # lk DataFrame OBJECT so the plan carries ONE broadcast
        # exchange (ReusedExchange for the other two probes). Minting
        # a fresh projection per jump creates fresh exprIds → three
        # separate broadcasts of identical data, measured ~40% SLOWER
        # than one jump per barrier; a jump(mid, mid) self-lookup
        # variant re-executes the intermediate join on both sides and
        # is ~10x slower — don't retry either. Interleaved A/B at
        # sf0.1: 7 rounds/3.4s (k=1) → 4 rounds/2.8s (k=3); k=7 adds
        # joins for no further gain.
        lk = cur.select(
            F.col("id").alias("b_id"),
            F.col("ptr").alias("b_ptr"),
            F.col("dist").alias("b_dist"),
        )
        stepped = jump(jump(jump(cur, lk), lk), lk)
        # stats-reset checkpoint: self-join squares preserved size
        # estimates every round (see connected_components / STATUS.md)
        # the liveness probe rides the checkpoint job (observe): an
        # unresolved-pointer count per round costs zero extra jobs, so
        # the loop exits exactly at resolution
        cur, unresolved = observed_checkpoint(
            stepped,
            F.count(F.when(F.col("ptr").isNotNull(), 1)),
        )
        if unresolved == 0:
            break
    return cur.select("id", (F.col("dist") + 1).alias("pos"))


def incremental_components(
    labels: DataFrame, new_edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Incremental maintenance for connected components: fold a batch of
    new edges into an existing (node, comp) labeling WITHOUT touching
    unaffected components.

    The reference's incremental story is per-row read-modify-write
    (M2); the declarative equivalent: (1) resolve the new edges'
    endpoints to current component ids, (2) the only components that
    can change are those touched by a new edge — restrict the existing
    labeling to them, (3) treat each retained label row (node → comp)
    as an edge and re-run min-label propagation over that small
    subgraph plus the new edges, (4) union with the untouched labels.
    Work is O(size of affected components + batch), not O(graph) — at
    100 TB a micro-batch of edges re-labels a few components, and
    label rows for everything else are never read past the semi-join.

    Equivalence to full recomputation is pinned in tests.
    """
    edges = new_edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    endpoints = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    touched_comps = (
        labels.join(endpoints, "node", "left_semi").select("comp").distinct()
    )
    affected = labels.join(touched_comps, "comp", "left_semi")
    untouched = labels.join(touched_comps, "comp", "left_anti")

    # label rows as edges keep previously-merged nodes connected; new
    # nodes appear only in `edges`
    sub_edges = affected.select(
        F.col("node").alias("src"), F.col("comp").alias("dst")
    ).union(edges.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    relabeled = connected_components(sub_edges)
    return untouched.unionByName(relabeled.select("node", "comp"))
