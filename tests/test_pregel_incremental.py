"""Tests for the Pregel operator (GraphX-parity) and incremental
address-stats maintenance (M2 mergeable partials)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from blockchain2graphdb_spark.chain import fixtures
from blockchain2graphdb_spark.chain.incremental import address_partials, merge_partials
from blockchain2graphdb_spark.graph.pregel import chain_heights, pregel


@pytest.fixture(scope="module")
def chain():
    return fixtures.generate(n_blocks=18, seed=21)


@pytest.fixture(scope="module")
def tables(chain, spark):
    return chain.to_spark(spark)


def test_pregel_chain_heights(tables, chain):
    """Heights recovered from (hash, prev_hash) linkage alone must match
    the materialized heights (the reference's buffer-sort intent, O2)."""
    got = {
        r["hash"]: r["height"] for r in chain_heights(tables["blocks"]).collect()
    }
    expected = {b[0]: b[2] for b in chain.blocks}
    assert got == expected


def test_pregel_generic_reachability(spark):
    """Reachability from a seed over a small DAG — pregel as a reusable
    propagate-and-aggregate operator."""
    vertices = spark.createDataFrame(
        [(i, i == 0) for i in range(6)], "id int, attr boolean"
    )
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5)], "src int, dst int"
    )
    out = pregel(
        vertices,
        edges,
        send_msg=lambda s, d: F.when(s & ~d, F.lit(True)),
        agg_msg=F.max,
        vprog=lambda attr, msg: attr | msg,
    )
    reach = {r["id"] for r in out.where("attr").collect()}
    assert reach == {0, 1, 2, 3}


def test_incremental_merge_equals_recompute(tables, spark, chain):
    """merge(partials(batch1), partials(batch2)) == partials(all) — the
    M2 invariant that lets foreachBatch maintain address stats without
    read-modify-write."""
    blocks = tables["blocks"]
    cut = 9
    early_blocks = blocks.where(F.col("height") < cut).select("hash")
    late_blocks = blocks.where(F.col("height") >= cut).select("hash")

    def slice_tables(block_hashes):
        txs = tables["transactions"].join(
            block_hashes.withColumnRenamed("hash", "block_hash"),
            "block_hash",
            "left_semi",
        )
        outs = tables["outputs"].join(
            txs.select("tx_hash"), "tx_hash", "left_semi"
        )
        ins = tables["inputs"].join(
            txs.select(F.col("tx_hash").alias("spending_tx_hash")),
            "spending_tx_hash",
            "left_semi",
        )
        return txs, outs, ins

    t1, o1, i1 = slice_tables(early_blocks)
    t2, o2, i2 = slice_tables(late_blocks)

    # spent_inputs resolves a batch's inputs against outputs that may live
    # in an earlier batch, so partials take the accumulated outputs table;
    # the receive side self-restricts via the join on the batch's txs
    p1 = address_partials(t1, tables["outputs"], i1)
    p2 = address_partials(t2, tables["outputs"], i2)
    merged = merge_partials(p1, p2)
    full = address_partials(
        tables["transactions"], tables["outputs"], tables["inputs"]
    )
    got = sorted(map(tuple, merged.collect()))
    exp = sorted(map(tuple, full.collect()))
    assert got == exp


def test_merge_is_commutative(tables, spark):
    blocks = tables["blocks"]
    a_blocks = blocks.where(F.col("height") % 2 == 0).select("hash")
    b_blocks = blocks.where(F.col("height") % 2 == 1).select("hash")

    def parts(block_hashes):
        txs = tables["transactions"].join(
            block_hashes.withColumnRenamed("hash", "block_hash"),
            "block_hash",
            "left_semi",
        )
        ins = tables["inputs"].join(
            txs.select(F.col("tx_hash").alias("spending_tx_hash")),
            "spending_tx_hash",
            "left_semi",
        )
        return address_partials(txs, tables["outputs"], ins)

    pa, pb = parts(a_blocks), parts(b_blocks)
    ab = sorted(map(tuple, merge_partials(pa, pb).collect()))
    ba = sorted(map(tuple, merge_partials(pb, pa).collect()))
    assert ab == ba
