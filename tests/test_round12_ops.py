"""Round-12 pins: full-trajectory Python replay of the q != 1 node2vec
walk (VERDICT r11 #5), its adjacency/weight invariants, and the
seed-BFS memo's exactness (closeness derived from the 16-seed build
must equal an independent 8-seed build).
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import pyarrow.parquet as pq

from blockchain2graphdb_spark import registry

from conftest import SF_DIR

SPECS = registry.load_all()


def _copurchase_adj(sf_dir):
    """Distinct co-purchase edges from the parquet, symmetric adjacency
    as sorted neighbor lists (idx order = Spark's row_number order)."""
    t = pq.read_table(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    )
    by_order = defaultdict(set)
    for o, p in zip(
        t.column("l_orderkey").to_pylist(), t.column("l_partkey").to_pylist()
    ):
        by_order[o].add(p)
    adj = defaultdict(set)
    for ps in by_order.values():
        ps = sorted(ps)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                adj[a].add(b)
                adj[b].add(a)
    return {n: sorted(vs) for n, vs in adj.items()}


def _pick(seed, step):
    h = hashlib.md5(f"n2vpq{seed}:{step}".encode()).hexdigest()
    return int(h[:8], 16)


def _python_n2v_pq_walks(sf_dir, n_seeds=64, steps=3):
    """Independent full-trajectory replay of node2vec_walk_sample_pq:
    step 1 uniform; steps 2+ pick from the x2-scaled slot wheel —
    backtrack 1 slot, prev-adjacent 2 slots, distance-2 1 slot —
    over candidates in adjacency order."""
    adj = _copurchase_adj(sf_dir)
    seeds = sorted(
        adj, key=lambda n: (hashlib.md5(str(n).encode()).hexdigest(), n)
    )[:n_seeds]
    rows = set()
    for seed in seeds:
        rows.add((seed, 0, seed))
        neigh = adj[seed]
        node = neigh[_pick(seed, 1) % len(neigh)]
        prev = seed
        rows.add((seed, 1, node))
        for step in range(2, steps + 1):
            cands = adj[node]
            prev_set = set(adj[prev])
            slots = [
                1 if c == prev else (2 if c in prev_set else 1) for c in cands
            ]
            tot = sum(slots)
            r = _pick(seed, step) % tot
            acc = 0
            nxt = None
            for c, s in zip(cands, slots):
                if acc <= r < acc + s:
                    nxt = c
                    break
                acc += s
            prev, node = node, nxt
            rows.add((seed, step, node))
    return rows


def test_node2vec_pq_full_trajectory_replay(spark):
    """Every (seed, step, node) row must equal the pure-Python replay —
    the engine-independent pin that the oracle (same algorithm in SQL)
    cannot provide."""
    got = {
        (r["seed"], r["step"], r["node"])
        for r in SPECS["node2vec_walk_sample_pq"].builder(spark, SF_DIR).collect()
    }
    want = _python_n2v_pq_walks(SF_DIR)
    assert got == want


def test_node2vec_pq_steps_follow_edges(spark):
    """Structural invariants independent of the replay: one node per
    (seed, step); consecutive nodes are adjacent in the co-purchase
    graph; walks never leave the graph."""
    rows = SPECS["node2vec_walk_sample_pq"].builder(spark, SF_DIR).collect()
    adj = _copurchase_adj(SF_DIR)
    byseed = defaultdict(dict)
    for r in rows:
        assert r["step"] not in byseed[r["seed"]], "duplicate step"
        byseed[r["seed"]][r["step"]] = r["node"]
    for seed, path in byseed.items():
        assert sorted(path) == [0, 1, 2, 3]
        assert path[0] == seed
        for t in range(1, 4):
            assert path[t] in adj[path[t - 1]], (seed, t)


def test_node2vec_pq_distance2_bias_differs_from_p_only(spark):
    """q = 2 must actually change behavior vs the p-only walk on the
    same seeds (different hash salt AND different wheel): if the two
    keys emitted identical trajectories the bias would be dead code."""
    pq_rows = {
        (r["seed"], r["step"], r["node"])
        for r in SPECS["node2vec_walk_sample_pq"].builder(spark, SF_DIR).collect()
    }
    p_rows = {
        (r["seed"], r["step"], r["node"])
        for r in SPECS["node2vec_walk_sample"].builder(spark, SF_DIR).collect()
    }
    assert pq_rows != p_rows


def test_seed_bfs_memo_subset_is_exact(spark):
    """The memoized closeness derivation (8 seeds filtered out of the
    16-seed BFS) must be row-identical to an independent un-memoized
    8-seed build."""
    from blockchain2graphdb_spark.operators import centrality as C

    bfs8, seeds8 = C._seed_bfs(spark, SF_DIR, 8)  # via the 16-seed memo
    fresh_bfs, fresh_seeds, _cks = C._seed_bfs_build(spark, SF_DIR, 8)
    key = lambda r: (r["root"], r["node"])
    got = {key(r): (r["dist"], r["sigma"]) for r in bfs8.collect()}
    want = {key(r): (r["dist"], r["sigma"]) for r in fresh_bfs.collect()}
    assert got == want
    assert sorted(r["n"] for r in seeds8.collect()) == sorted(
        r["n"] for r in fresh_seeds.collect()
    )


# --- stream_multi_table_ingest (VERDICT r11 #8): atomicity + replay ---


def _rows12(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x long")


def test_group_commit_crash_between_tables_is_atomic(spark, tmp_path):
    """A writer dying AFTER the first table's version commit but BEFORE
    the second table's (injected through the claim seam) must leave NO
    partial visibility: the group catalog is unchanged, the orphan
    table version is invisible, and a retry lands both tables exactly
    once."""
    import pytest
    from blockchain2graphdb_spark.sources.snapshots import TableGroup, link_claim

    root = str(tmp_path / "g")
    plain = TableGroup(root)
    plain.commit({"ord": _rows12(spark, [1]), "cust": _rows12(spark, [10])})
    base = plain.group_manifest()

    calls = {"n": 0}

    def crash_on_second(tmp, target):
        calls["n"] += 1
        if calls["n"] == 2:  # first table committed, second table's claim
            raise RuntimeError("crash between tables")
        return link_claim(tmp, target)

    crashing = TableGroup(root, claim=crash_on_second)
    with pytest.raises(RuntimeError, match="between tables"):
        crashing.commit({"ord": _rows12(spark, [2]), "cust": _rows12(spark, [20])})

    # no partial state visible anywhere
    assert plain.group_manifest() == base
    assert sorted(r["x"] for r in plain.read(spark, "ord").collect()) == [1]
    assert sorted(r["x"] for r in plain.read(spark, "cust").collect()) == [10]

    # retry lands BOTH, exactly once; the orphan never resurfaces
    plain.commit({"ord": _rows12(spark, [2]), "cust": _rows12(spark, [20])})
    assert sorted(r["x"] for r in plain.read(spark, "ord").collect()) == [1, 2]
    assert sorted(r["x"] for r in plain.read(spark, "cust").collect()) == [10, 20]


def test_group_commit_crash_before_group_manifest_is_atomic(spark, tmp_path):
    """Same, dying AFTER both table-version commits but BEFORE the group
    manifest claim: both versions are orphans, readers see nothing new,
    retry is exact."""
    import pytest
    from blockchain2graphdb_spark.sources.snapshots import TableGroup, link_claim

    root = str(tmp_path / "g2")
    plain = TableGroup(root)
    plain.commit({"a": _rows12(spark, [1]), "b": _rows12(spark, [2])})

    calls = {"n": 0}

    def crash_on_group(tmp, target):
        calls["n"] += 1
        if "_commits" in target and calls["n"] > 2:
            raise RuntimeError("crash before group manifest")
        return link_claim(tmp, target)

    crashing = TableGroup(root, claim=crash_on_group)
    with pytest.raises(RuntimeError, match="group manifest"):
        crashing.commit({"a": _rows12(spark, [3]), "b": _rows12(spark, [4])})
    assert plain.latest_group() == 1
    assert sorted(r["x"] for r in plain.read(spark, "a").collect()) == [1]
    plain.commit({"a": _rows12(spark, [3]), "b": _rows12(spark, [4])})
    assert sorted(r["x"] for r in plain.read(spark, "a").collect()) == [1, 3]
    assert sorted(r["x"] for r in plain.read(spark, "b").collect()) == [2, 4]


def test_stream_multi_table_ingest_replay_is_idempotent(spark):
    """Re-running the stream with its CHECKPOINT DELETED (so every
    micro-batch re-fires against the retained group log) must be a
    no-op: the op-tag dedupe skips replayed batches — same readout,
    no doubled rows, no extra group commits."""
    import shutil

    import pyarrow.parquet as pq

    from blockchain2graphdb_spark.sources.snapshots import TableGroup
    from blockchain2graphdb_spark.streaming.queries import _multi_table_group_root

    builder = SPECS["stream_multi_table_ingest"].builder
    first = sorted(map(tuple, builder(spark, SF_DIR).collect()))

    groot = _multi_table_group_root(SF_DIR)
    shutil.rmtree(f"{groot}.ckpt", ignore_errors=True)  # force full replay
    second = sorted(map(tuple, builder(spark, SF_DIR).collect()))
    assert first == second

    group = TableGroup(groot)
    assert group.latest_group() == 3  # one commit per wave, no extras
    n_orders = pq.read_metadata(f"{SF_DIR}/orders.parquet").num_rows
    assert group.read(spark, "ord").count() == n_orders  # no double-append


# --- round-12 plan-shape and replay pins ---


def test_mixture_manifest_quota_cut_is_window_group_limit(spark):
    """The per-language quota prefix must compile to WindowGroupLimit
    (map-side partial top-N) — a full sort per language would silently
    turn the manifest into a global-sort job at corpus scale."""
    from blockchain2graphdb_spark.plans.inspect import plan_string

    df = SPECS["dataset_mixture_manifest"].builder(spark, SF_DIR)
    plan = plan_string(df)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_negative_edge_sample_plan_has_no_nested_loop(spark):
    """Candidate generation must stay equi-join shaped: the node-index
    probe and the non-edge check may not degrade to a nested loop
    (the DuckDB-side hazard this key's oracle already hit — pin the
    Spark side too)."""
    from blockchain2graphdb_spark.plans.inspect import plan_string

    import re

    df = SPECS["negative_edge_sample"].builder(spark, SF_DIR)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, plan
    # benign nested loops only: the 1-row scalar cross joins and
    # bucketed_global_rank's O(#buckets^2) offsets theta-join are all
    # Cross/LeftOuter BuildRight against tiny broadcasts; the hazard —
    # an INNER nested loop between the candidate set and the node
    # index or the edge list — would surface as an Inner BNLJ
    assert not re.search(r"BroadcastNestedLoopJoin Inner", plan), plan
    # the index probe and the non-edge check stay hash-join shaped
    n_hash = len(re.findall(r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)", plan))
    assert n_hash >= 2, plan


def test_holt_linear_python_replay(spark):
    """Full-trajectory replay of the Holt recursion with independent
    arithmetic (pandas grouping + explicit trunc division)."""
    rows = {
        r["event_type"]: r
        for r in SPECS["holt_linear_forecast"].builder(spark, SF_DIR).collect()
    }
    t = pq.read_table(f"{SF_DIR}/events.parquet", columns=["ts", "event_type"])
    df = t.to_pandas()
    day_us = 24 * 3600 * 1_000_000
    # normalize to unix MICROS regardless of the parquet ts encoding
    # (the fixture has shipped both int64-nanos and micros-ntz)
    df["day"] = df["ts"].astype("datetime64[us]").astype("int64") // day_us
    daily = df.groupby(["event_type", "day"]).size().reset_index(name="n")

    def tdiv(a, b):
        return -((-a) // b) if a < 0 else a // b

    for et, grp in daily.groupby("event_type"):
        xs = [int(x) for x in grp.sort_values("day")["n"]]
        lvl, trd, abs_err = xs[0] * 1000000, 0, 0
        for x in xs[1:]:
            abs_err += abs(x * 1000000 - (lvl + trd))
            new_lvl = tdiv(x * 1000000 + lvl + trd, 2)
            trd = tdiv(trd + new_lvl - lvl, 2)
            lvl = new_lvl
        r = rows[et]
        assert r["n_days"] == len(xs)
        assert r["level_micros"] == lvl and r["trend_micros"] == trd
        assert r["forecast_next_micros"] == lvl + trd
        if len(xs) > 1:
            assert r["mae_one_step_micros"] == tdiv(abs_err, len(xs) - 1)


def test_lorenz_deciles_are_monotone_and_complete(spark):
    """Structural invariants: 10 deciles, populations sum to the
    customer count, cumulative shares strictly increase to exactly
    1e9 - tail (final decile's floor) — and the curve sits on or
    below the equality diagonal."""
    rows = sorted(
        SPECS["lorenz_curve_deciles"].builder(spark, SF_DIR).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(10))
    shares = [r["cum_share_nanos"] for r in rows]
    assert all(b > a for a, b in zip(shares, shares[1:]))
    assert shares[-1] == 10**9  # all spend accounted for
    for i, r in enumerate(rows):
        assert r["cum_share_nanos"] <= (i + 1) * 10**8 + 1  # under the diagonal
    import duckdb

    n_cust = duckdb.sql(
        f"SELECT COUNT(DISTINCT o_custkey) FROM read_parquet('{SF_DIR}/orders.parquet')"
    ).fetchone()[0]
    assert sum(r["n_customers"] for r in rows) == n_cust


def test_stream_mixture_admission_is_first_come(spark):
    """The admitted-id checksum must equal the sum of each language's
    first `quota` doc_ids — proving WHICH docs were admitted, not just
    how many."""
    import duckdb

    rows = {
        r["lang"]: r
        for r in SPECS["stream_mixture_admission"].builder(spark, SF_DIR).collect()
    }
    con = duckdb.connect()
    for lang, r in rows.items():
        got = con.execute(
            f"""
            SELECT COALESCE(SUM(doc_id), 0) FROM (
              SELECT doc_id FROM read_parquet('{SF_DIR}/documents.parquet')
              WHERE lang = ? ORDER BY doc_id LIMIT {r["quota"]}
            )
            """,
            [lang],
        ).fetchone()[0]
        assert r["admitted_docid_sum"] == got, lang


def test_seed_bfs_broadcast_switch_equivalence(spark, monkeypatch):
    """_seed_bfs forced down the keyed-shuffle path (gate = 0) must
    equal the broadcast-path build exactly — the pregel two-path test
    extended to the centrality BFS (its gate is the documented 100 TB
    degradation path)."""
    from blockchain2graphdb_spark.operators import centrality as C
    from blockchain2graphdb_spark.plans import sizing

    key = lambda r: (r["root"], r["node"])
    b_bfs, b_seeds, _ = C._seed_bfs_build(spark, SF_DIR, 8)
    broadcast_res = {key(r): (r["dist"], r["sigma"]) for r in b_bfs.collect()}

    monkeypatch.setattr(sizing, "adaptive_broadcast_rows", lambda *a, **k: 0)
    s_bfs, s_seeds, _ = C._seed_bfs_build(spark, SF_DIR, 8)
    shuffle_res = {key(r): (r["dist"], r["sigma"]) for r in s_bfs.collect()}

    assert broadcast_res == shuffle_res
    assert sorted(r["n"] for r in b_seeds.collect()) == sorted(
        r["n"] for r in s_seeds.collect()
    )
