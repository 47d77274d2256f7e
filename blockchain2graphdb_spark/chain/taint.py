"""Taint-flow propagation (proportional haircut) over the UTXO graph.

The blockchain-forensics counterpart of the reference's flow aggregation
family (G5 / TransactionBalance, B:784, B:1011–1041): starting from a
set of SEED addresses, every downstream output carries the fraction of
its value traceable to the seeds, under proportional mixing — a
transaction's outputs inherit

    frac(tx) = Σ_inputs value_i · taint_i / Σ_inputs value_i

which is exactly a weighted message sum over the spend graph
(output a → output b created by the tx that spends a, edge weight
w = value_a / tx_input_total). That makes taint a Pregel computation:
send taint·w along spend edges, sum per destination, keep the max of
the seed floor and the mixed fraction. The spend graph is a DAG
(outputs are spent after they are created), so `n_iter` supersteps
propagate taint exactly `n_iter` spend-hops — the bounded-hop variant
analysts actually run; convergence checking stops early when the chain
is shallower.

100 TB shape: identical to PageRank's — one keyed shuffle per
superstep, weights computed once up front (two joins + one aggregate),
no driver loop, broadcast-hinted vertex side under the pregel
threshold.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..graph.pregel import pregel


def spend_edges(tables: dict[str, DataFrame]) -> DataFrame:
    """(src, dst, w): src output is consumed by the tx creating dst;
    w = src value / tx input total (proportional haircut)."""
    spent = (
        tables["inputs"]
        .join(
            tables["outputs"].select(
                F.col("output_id").alias("spent_output_id"),
                F.col("value").alias("in_value"),
            ),
            "spent_output_id",
        )
        .select("spending_tx_hash", "spent_output_id", "in_value")
    )
    totals = spent.groupBy("spending_tx_hash").agg(
        F.sum("in_value").alias("in_total")
    )
    created = tables["outputs"].select(
        F.col("tx_hash").alias("spending_tx_hash"),
        F.col("output_id").alias("dst"),
    )
    return (
        spent.join(totals, "spending_tx_hash")
        .join(created, "spending_tx_hash")
        .select(
            F.col("spent_output_id").alias("src"),
            "dst",
            (F.col("in_value").cast("double") / F.col("in_total")).alias("w"),
        )
    )


def taint_flow(
    tables: dict[str, DataFrame],
    seed_addresses: DataFrame,
    n_iter: int = 16,
    check_convergence: bool = True,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(output_id, address, value, taint): taint ∈ [0, 1] is the value
    fraction traceable to `seed_addresses` within `n_iter` spend-hops.
    Outputs PAID TO a seed address are re-tainted 1.0 (the seed floor),
    matching the "address of interest" semantics.

    Tiny graphs short-circuit to a driver-side replay of the same
    hop-bounded update (the graph/components.py precedent): below
    ~10^5 edges the distributed loop's per-superstep job overhead
    dominates, and the replay computes identical taint (same messages,
    same max-with-floor; parity across both paths is pinned in
    tests/test_taint.py). Pass driver_threshold=0 to force Pregel."""
    seeds = seed_addresses.select(
        F.col(seed_addresses.columns[0]).alias("address")
    ).distinct().withColumn("_seed", F.lit(1.0))
    outs = tables["outputs"].join(seeds, "address", "left").select(
        F.col("output_id").alias("id"),
        "address",
        "value",
        F.coalesce(F.col("_seed"), F.lit(0.0)).alias("seed"),
    )
    # the gate count rides the checkpoint job (observe); a plain
    # localCheckpoint keeps the preserved stats the Pregel path plans with
    n_edges = Observation()
    edges = (
        spend_edges(tables)
        .observe(n_edges, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )

    if n_edges.get["n"] <= driver_threshold:
        # two Arrow fetches, not pickled Row collects; row and edge order
        # are the collect order, so the float sums are the same
        vert = outs.toArrow()
        ids = vert.column("id").to_pylist()
        floor = dict(zip(ids, vert.column("seed").to_pylist()))
        el = edges.toArrow()
        elist = list(
            zip(*(el.column(c).to_pylist() for c in ("src", "dst", "w")))
        )
        taint = dict(floor)
        for _ in range(n_iter):
            msgs: dict = {}
            for s, d, w in elist:
                msgs[d] = msgs.get(d, 0.0) + taint[s] * w
            new = dict(taint)
            for d, m in msgs.items():
                new[d] = max(floor[d], m)
            if new == taint:
                break
            taint = new
        out = (
            vert.select(["id", "address", "value"])
            .append_column("taint", pa.array([taint[i] for i in ids], pa.float64()))
            .rename_columns(["output_id", "address", "value", "taint"])
        )
        return edges.sparkSession.createDataFrame(
            out, "output_id string, address string, value long, taint double"
        )

    vertices = outs.select(
        "id",
        F.struct(F.col("seed").alias("taint"), F.col("seed").alias("seed")).alias(
            "attr"
        ),
    )
    ranks = pregel(
        vertices,
        edges,
        initial_msg=None,
        # the lambda closes over the triplet's edge column `w` — pregel
        # evaluates send_msg in triplet context, so edge attributes are
        # addressable by name
        send_msg=lambda s, d: s["taint"] * F.col("w"),
        agg_msg=F.sum,
        vprog=lambda attr, msg: F.struct(
            F.greatest(attr["seed"], msg).alias("taint"),
            attr["seed"].alias("seed"),
        ),
        max_iter=n_iter,
        needs_dst_attr=False,
        check_convergence=check_convergence,
    )
    return (
        outs.select("id", "address", "value")
        .join(ranks, "id")
        .select(
            F.col("id").alias("output_id"),
            "address",
            "value",
            F.col("attr")["taint"].alias("taint"),
        )
    )
