"""Deterministic mini-chain generator (FIXTURES.md §B).

Produces the four normalized tables for a valid single chain: each
block's prev_hash = predecessor's hash, genesis anchored; 1–5 txs per
block (first is coinbase); non-coinbase txs spend 1–3 earlier unspent
outputs and conserve value (Σ outputs = Σ inputs − fee); the coinbase
output carries inflation + the block's total fees (Bitcoin semantics,
B:541/B:1037). ~N_ADDRESSES addresses with reuse so counterparty /
self-transfer / component tests are non-trivial.

Also provides `reorg_variant`: the same chain with the last k blocks
replaced by an alternative branch — for the M5 invariant
  ingest(chain) then rollback(k) ≡ ingest(chain[:-k]).

Pure Python + a seeded RNG → pandas → createDataFrame; deterministic
for (n_blocks, seed).
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import schema

N_ADDRESSES = 100
GENESIS_TIME = datetime(2020, 1, 1, tzinfo=timezone.utc)


def _h(*parts) -> str:
    return hashlib.md5("|".join(str(p) for p in parts).encode()).hexdigest()


@dataclass
class Chain:
    blocks: list = field(default_factory=list)
    transactions: list = field(default_factory=list)
    outputs: list = field(default_factory=list)
    inputs: list = field(default_factory=list)
    utxo: dict = field(default_factory=dict)  # output_id -> (value, address)

    def to_spark(self, spark: SparkSession) -> dict[str, DataFrame]:
        """The four tables; each child row gains its block's height."""
        block_h = {b[0]: b[2] for b in self.blocks}
        tx_h = {t[0]: block_h[t[1]] for t in self.transactions}
        frames = {
            "blocks": (self.blocks, schema.BLOCKS),
            "transactions": ([(*t, tx_h[t[0]]) for t in self.transactions], schema.TRANSACTIONS),
            "outputs": ([(*o, tx_h[o[0]]) for o in self.outputs], schema.OUTPUTS),
            "inputs": ([(*i, tx_h[i[0]]) for i in self.inputs], schema.INPUTS),
        }
        out = {}
        for name, (rows, sch) in frames.items():
            cols = [f.name for f in sch.fields]
            pdf = pd.DataFrame(rows, columns=cols)
            out[name] = spark.createDataFrame(pdf, schema=sch)
        return out


def _add_block(chain: Chain, rng: random.Random, height: int, prev_hash: str | None, branch: str = "") -> str:
    bhash = _h("block", branch, height, prev_hash)
    bdate = GENESIS_TIME + timedelta(minutes=10 * height)
    inflation = 50_000_000 >> (height // 50)  # halving-style schedule

    n_tx = 1 + rng.randint(0, 4)
    txs = []
    total_fees = 0
    # non-coinbase txs first (so coinbase can include their fees)
    for ti in range(1, n_tx):
        tx_hash = _h("tx", branch, height, ti)
        spendable = list(chain.utxo.keys())
        if not spendable:
            break
        k = min(len(spendable), 1 + rng.randint(0, 2))
        picked = rng.sample(sorted(spendable), k)
        in_sum = 0
        for oid in picked:
            v, _addr = chain.utxo.pop(oid)
            in_sum += v
            chain.inputs.append((tx_hash, oid))
        fee = min(in_sum, rng.randint(0, 1000))
        remaining = in_sum - fee
        total_fees += fee
        n_out = 1 + rng.randint(0, 2)
        self_transfer = rng.random() < 0.1
        out_addr_pool = (
            [f"addr{rng.randrange(N_ADDRESSES):03d}"]
            if self_transfer
            else [f"addr{rng.randrange(N_ADDRESSES):03d}" for _ in range(n_out)]
        )
        for oi in range(n_out):
            val = remaining // (n_out - oi) if n_out - oi > 0 else remaining
            remaining -= val
            oid = f"{tx_hash}:{oi}"
            addr = out_addr_pool[oi % len(out_addr_pool)]
            chain.outputs.append((tx_hash, oi, oid, val, addr))
            chain.utxo[oid] = (val, addr)
        txs.append((tx_hash, bhash, ti, bdate, False))

    # coinbase carries inflation + the block's fees (B:541, B:1037–1041)
    cb_hash = _h("coinbase", branch, height)
    cb_addr = f"addr{rng.randrange(N_ADDRESSES):03d}"
    cb_oid = f"{cb_hash}:0"
    chain.outputs.append((cb_hash, 0, cb_oid, inflation + total_fees, cb_addr))
    chain.utxo[cb_oid] = (inflation + total_fees, cb_addr)
    txs.insert(0, (cb_hash, bhash, 0, bdate, True))

    chain.transactions.extend(txs)
    chain.blocks.append((bhash, prev_hash, height, bdate, inflation))
    return bhash


def generate(n_blocks: int = 20, seed: int = 42) -> Chain:
    rng = random.Random(seed)
    chain = Chain()
    prev = None
    for height in range(n_blocks):
        prev = _add_block(chain, rng, height, prev)
    return chain


def reorg_variant(n_blocks: int = 20, seed: int = 42, k: int = 3) -> Chain:
    """Same prefix as generate(n_blocks, seed), last k blocks replaced by
    an alternative branch (different hashes/txs at the same heights)."""
    rng = random.Random(seed)
    chain = Chain()
    prev = None
    for height in range(n_blocks - k):
        prev = _add_block(chain, rng, height, prev)
    branch_rng = random.Random(seed + 10_000)
    for height in range(n_blocks - k, n_blocks):
        prev = _add_block(chain, branch_rng, height, prev, branch="alt")
    return chain


def truncated(n_blocks: int = 20, seed: int = 42, k: int = 3) -> Chain:
    """ingest(chain[:-k]): regenerate with the same seed, stop early.

    RNG state is consumed per block in order, so the first n-k blocks are
    byte-identical with generate(n_blocks, seed)'s prefix.
    """
    rng = random.Random(seed)
    chain = Chain()
    prev = None
    for height in range(n_blocks - k):
        prev = _add_block(chain, rng, height, prev)
    return chain
