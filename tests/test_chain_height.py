"""Every chain row carries its block height.

- `normalize` sets `height` on each transaction, output and input row
  from the block row it explodes, equal to the height the block join
  gives.
- `maintain.reorg_rollback` (one `height < fork` filter per table) and
  `maintain.resume` give the same four row sets as the block-hash
  cascade they replaced, kept here as the reference: an anti-join on
  `blocks`, an anti-join on `transactions.block_hash`, then semi-joins
  for `outputs` and `inputs` on the surviving transactions.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from blockchain2graphdb_spark.chain import fixtures, maintain, schema
from blockchain2graphdb_spark.chain.maintain import Tables, insert_if_absent
from blockchain2graphdb_spark.sources.blockfile import normalize, read_blocks, write_blk_files
from blockchain2graphdb_spark.streaming.ingest import empty_tables

# ---------------------------------------------------------------------------
# reference: the block-hash cascade


def reference_cascade_delete(tables: Tables, block_hashes) -> Tables:
    """Drop the blocks in `block_hashes` (one `hash` column) and every
    row that depends on them, by hash joins."""
    blocks = tables["blocks"].join(block_hashes, "hash", "left_anti").select(
        tables["blocks"].columns
    )
    txs = tables["transactions"].join(
        block_hashes.withColumnRenamed("hash", "block_hash"), "block_hash", "left_anti"
    ).select(tables["transactions"].columns)
    surviving_tx = txs.select("tx_hash")
    outputs = tables["outputs"].join(surviving_tx, "tx_hash", "left_semi").select(
        tables["outputs"].columns
    )
    inputs = tables["inputs"].join(
        surviving_tx.withColumnRenamed("tx_hash", "spending_tx_hash"),
        "spending_tx_hash",
        "left_semi",
    ).select(tables["inputs"].columns)
    return {"blocks": blocks, "transactions": txs, "outputs": outputs, "inputs": inputs}


def reference_rollback(tables: Tables, fork_height: int) -> Tables:
    doomed = tables["blocks"].where(F.col("height") >= fork_height).select("hash")
    return reference_cascade_delete(tables, doomed)


def reference_resume(tables: Tables, incoming: Tables) -> tuple[Tables, int | None]:
    fork = maintain.find_fork_height(tables["blocks"], incoming["blocks"])
    if fork is not None:
        tables = reference_rollback(tables, fork)
    merged = {
        name: insert_if_absent(tables[name], incoming[name], keys)
        for name, keys in schema.KEYS.items()
    }
    return merged, fork


# ---------------------------------------------------------------------------
# random delivery sequences


def _blocks(chain: fixtures.Chain, lo: int, hi: int) -> fixtures.Chain:
    """The fixture rows of the blocks at heights [lo, hi)."""
    blocks = [b for b in chain.blocks if lo <= b[2] < hi]
    hashes = {b[0] for b in blocks}
    txs = [t for t in chain.transactions if t[1] in hashes]
    tx_hashes = {t[0] for t in txs}
    return fixtures.Chain(
        blocks=blocks,
        transactions=txs,
        outputs=[o for o in chain.outputs if o[0] in tx_hashes],
        inputs=[i for i in chain.inputs if i[0] in tx_hashes],
    )


def _resend(part: fixtures.Chain, source: fixtures.Chain, tx) -> fixtures.Chain:
    """`part` with `tx` (a transaction row of `source`) mined again in
    the first block of `part`, outputs and inputs included."""
    first = min(part.blocks, key=lambda b: b[2])
    return fixtures.Chain(
        blocks=part.blocks,
        transactions=part.transactions + [(tx[0], first[0], 99, first[3], tx[4])],
        outputs=part.outputs + [o for o in source.outputs if o[0] == tx[0]],
        inputs=part.inputs + [i for i in source.inputs if i[0] == tx[0]],
    )


def _deliveries(seed: int) -> tuple[int, list[fixtures.Chain]]:
    """A canonical prefix, then four windows alternating between the
    canonical chain and its alternative tip. From the third delivery on,
    each window overlaps a branch-specific height the previous window
    held, so it forks. About half of the windows also re-mine a
    transaction of an earlier height (held, orphaned or from the other
    branch) in their first block."""
    rng = random.Random(seed)
    n, k = rng.randint(12, 18), rng.randint(2, 4)
    canon = fixtures.generate(n_blocks=n, seed=seed)
    alt = fixtures.reorg_variant(n_blocks=n, seed=seed, k=k)
    block_h = {b[0]: b[2] for c in (canon, alt) for b in c.blocks}
    tip = rng.randint(3, n - k)
    seq = [_blocks(canon, 0, tip)]
    for i in range(4):
        branch = (alt, canon)[i % 2]
        lo = rng.randint(max(0, tip - 3), tip - 1)
        hi = rng.randint(max(lo + 1, n - k + 1), n)
        part = _blocks(branch, lo, hi)
        resend, source = rng.random() < 0.5, rng.choice((canon, alt))
        in_part = {t[0] for t in part.transactions}
        pool = [t for t in source.transactions if block_h[t[1]] < hi and t[0] not in in_part]
        if resend and pool:
            part = _resend(part, source, rng.choice(pool))
        seq.append(part)
        tip = hi
    return n, seq


def _sets(tables: Tables) -> list[tuple[str, str]]:
    """Every row of the four tables as (table, row as JSON), sorted; one
    Spark job."""
    rows = [
        tables[name].select(F.lit(name).alias("t"), F.to_json(F.struct("*")).alias("row"))
        for name in schema.KEYS
    ]
    union = rows[0]
    for df in rows[1:]:
        union = union.unionByName(df)
    return sorted(map(tuple, union.collect()))


def _checkpoint(tables: Tables) -> Tables:
    return {name: df.localCheckpoint(eager=True) for name, df in tables.items()}


@pytest.mark.slow  # ~25 s per seed; full lane still runs it
@pytest.mark.parametrize("seed", [5, 41, 310])
def test_rollback_and_resume_match_the_hash_cascade(spark, seed):
    """After every delivery of a random reorg sequence, `resume` holds
    the same rows as the cascade-based resume, and rolling either state
    back to random fork heights gives the same rows."""
    rng = random.Random(seed + 1)
    n, seq = _deliveries(seed)
    state = ref = empty_tables(spark)
    forks = []
    for part in seq:
        incoming = part.to_spark(spark)
        state = _checkpoint(maintain.resume(state, incoming))
        ref, fork = reference_resume(ref, incoming)
        ref = _checkpoint(ref)
        forks.append(fork)
        got = _sets(state)
        assert got == _sets(ref), f"resume diverges (fork {fork})"
        for f in sorted({rng.randint(0, n), rng.randint(0, n)}):
            assert _sets(maintain.reorg_rollback(state, f)) == _sets(
                reference_rollback(ref, f)
            ), f"rollback to {f} diverges"
    assert sum(f is not None for f in forks) >= 2, forks


# ---------------------------------------------------------------------------
# normalize


@pytest.mark.parametrize("make", [fixtures.generate, fixtures.reorg_variant])
def test_normalize_rows_carry_their_block_height(spark, tmp_path, make):
    """Each transaction, output and input row's `height` equals its
    block's height as the blocks → transactions → child join gives it;
    every table has the schema's columns in order."""
    write_blk_files(make(n_blocks=14, seed=21), str(tmp_path), blocks_per_file=4)
    t = normalize(read_blocks(spark, f"{tmp_path}/*.dat"))
    for name, sch in (
        ("blocks", schema.BLOCKS),
        ("transactions", schema.TRANSACTIONS),
        ("outputs", schema.OUTPUTS),
        ("inputs", schema.INPUTS),
    ):
        assert t[name].columns == sch.fieldNames(), name
    block_h = t["blocks"].select(F.col("hash").alias("block_hash"), F.col("height").alias("want"))
    tx_h = t["transactions"].join(block_h, "block_hash").select("tx_hash", "want")
    joined = {
        "transactions": t["transactions"].join(block_h, "block_hash"),
        "outputs": t["outputs"].join(tx_h, "tx_hash"),
        "inputs": t["inputs"].join(
            tx_h.withColumnRenamed("tx_hash", "spending_tx_hash"), "spending_tx_hash"
        ),
    }
    for name, df in joined.items():
        rows = df.select("height", "want").collect()
        assert len(rows) == t[name].count() > 0, name
        assert all(r["height"] == r["want"] for r in rows), name
