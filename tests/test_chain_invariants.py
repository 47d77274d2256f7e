"""Property-based invariants on the mini-chain generator and the pure
data model (SURVEY.md §5.2-3) — fast, Spark-free checks that every
generated fixture obeys the reference's structural semantics, so the
Spark parity tests stand on valid input.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from blockchain2graphdb_spark.chain import fixtures

chains = st.builds(
    fixtures.generate,
    n_blocks=st.integers(min_value=2, max_value=25),
    seed=st.integers(min_value=0, max_value=10_000),
)


@settings(max_examples=25, deadline=None)
@given(chains)
def test_chain_is_single_anchored_path(chain):
    """chain edges form one path anchored at genesis (B:395, B:428–435)."""
    by_height = sorted(chain.blocks, key=lambda b: b[2])
    assert by_height[0][1] is None  # genesis has no parent
    for prev, cur in zip(by_height, by_height[1:]):
        assert cur[1] == prev[0]  # prev_hash == predecessor's hash
        assert cur[2] == prev[2] + 1


@settings(max_examples=25, deadline=None)
@given(chains)
def test_every_input_references_existing_unique_output(chain):
    """every spent input references an existing output, spent once (B:249–252)."""
    out_ids = {oid for (_t, _i, oid, _v, _a) in chain.outputs}
    spent = [oid for (_s, oid) in chain.inputs]
    assert set(spent) <= out_ids
    assert len(spent) == len(set(spent))  # no double-spend


@settings(max_examples=25, deadline=None)
@given(chains)
def test_value_conservation(chain):
    """BlockBalance = CoinBaseBalance + Σ non-coinbase input sums, and
    per-tx Σ outputs = Σ inputs − fee ≥ 0 (B:1011, B:1037, B:542)."""
    out_by_id = {oid: v for (_t, _i, oid, v, _a) in chain.outputs}
    outs_by_tx: dict[str, int] = {}
    for tx_hash, _i, _oid, v, _a in chain.outputs:
        outs_by_tx[tx_hash] = outs_by_tx.get(tx_hash, 0) + v
    ins_by_tx: dict[str, int] = {}
    for spending, oid in chain.inputs:
        ins_by_tx[spending] = ins_by_tx.get(spending, 0) + out_by_id[oid]
    for tx_hash, _bh, _ti, _td, is_coinbase in chain.transactions:
        if is_coinbase:
            assert tx_hash not in ins_by_tx
        else:
            fee = ins_by_tx.get(tx_hash, 0) - outs_by_tx.get(tx_hash, 0)
            assert fee >= 0
    # supply check: total unspent value == Σ inflation (fees recycle into
    # coinbases, so they cancel out of the global sum)
    spent_ids = {oid for (_s, oid) in chain.inputs}
    unspent_total = sum(v for (_t, _i, oid, v, _a) in chain.outputs if oid not in spent_ids)
    inflation_total = sum(b[4] for b in chain.blocks)
    assert unspent_total == inflation_total


@settings(max_examples=15, deadline=None)
@given(
    n=st.integers(min_value=4, max_value=20),
    seed=st.integers(min_value=0, max_value=1000),
    k=st.integers(min_value=1, max_value=3),
)
def test_truncated_is_exact_prefix(n, seed, k):
    """generate(n)[: n-k] rows == truncated(n, k) rows — the precondition
    for the M5 rollback≡truncation invariant."""
    full = fixtures.generate(n, seed)
    trunc = fixtures.truncated(n, seed, k=min(k, n - 1))
    kept_blocks = {b[0] for b in trunc.blocks}
    assert [b for b in full.blocks if b[0] in kept_blocks] == trunc.blocks
    full_tx_prefix = [t for t in full.transactions if t[1] in kept_blocks]
    assert full_tx_prefix == trunc.transactions
