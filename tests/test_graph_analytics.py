"""PageRank (pregel-based) against an independent NumPy power iteration,
plus BFS sanity on a hand-built graph."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from blockchain2graphdb_spark.operators.graphops import pagerank_ranks
import pytest


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


@pytest.mark.slow  # >9s measured r14; full lane still runs it
def test_pagerank_matches_power_iteration(spark):
    # canonical a<b edge list of a small asymmetric graph
    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4)]
    got = {
        r["id"]: r["rank"]
        for r in pagerank_ranks(_pairs(spark, edges), n_iter=10).collect()
    }

    # independent reference: same fixed-iteration scheme on the
    # symmetrized adjacency, rank_v = 0.15 + 0.85 * sum_u rank_u/deg_u
    n = 5
    adj = np.zeros((n, n))
    for a, b in edges:
        adj[a, b] = adj[b, a] = 1
    deg = adj.sum(axis=1)
    rank = np.ones(n)
    for _ in range(10):
        rank = 0.15 + 0.85 * (adj.T @ (rank / deg))

    assert set(got) == set(range(n))
    for v in range(n):
        assert abs(got[v] - rank[v]) < 1e-9, (v, got[v], rank[v])
    # degree-2 hub 2 outranks the degree-1 leaf 4
    assert got[2] > got[4]


def test_pagerank_uniform_on_regular_graph(spark):
    # a 4-cycle is 2-regular: every vertex must get the same rank
    edges = [(0, 1), (1, 2), (2, 3), (0, 3)]
    ranks = [r["rank"] for r in pagerank_ranks(_pairs(spark, edges)).collect()]
    assert len(ranks) == 4
    assert max(ranks) - min(ranks) < 1e-12


@pytest.mark.slow  # >9s measured r13; full lane still runs it
def test_pagerank_warm_start_accelerates_convergence(spark):
    """Incremental maintenance: after an edge batch, warm-starting from
    the previous fixpoint must land closer to the new fixpoint than a
    cold start with the same superstep budget — and within tolerance of
    a long-run reference."""
    base = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    delta = [(1, 6), (2, 5)]
    # 20/30 supersteps (was 30/40): the warm-vs-cold ordering and the
    # 1e-2 tolerance hold with wide margin (re-measured r14: warm
    # 3.0e-3 vs cold 5.5e-3 against the 30-iter reference) and each
    # superstep costs ~0.4s of fixed local-mode overhead.
    old_ranks = pagerank_ranks(_pairs(spark, base), n_iter=20)
    new_edges = _pairs(spark, base + delta)

    converged = {r["id"]: r["rank"] for r in pagerank_ranks(new_edges, n_iter=30).collect()}
    warm = {
        r["id"]: r["rank"]
        for r in pagerank_ranks(new_edges, n_iter=6, init_ranks=old_ranks).collect()
    }
    cold = {r["id"]: r["rank"] for r in pagerank_ranks(new_edges, n_iter=6).collect()}

    # measured: warm 3.0e-3 vs cold 5.5e-3 at 6 supersteps (warm is
    # consistently ~2x closer at every budget: 5.1/7.7e-2 at 2,
    # 1.1/2.0e-2 at 4, 1.2/1.6e-3 at 8)
    warm_err = max(abs(warm[v] - converged[v]) for v in converged)
    cold_err = max(abs(cold[v] - converged[v]) for v in converged)
    assert warm_err < cold_err, (warm_err, cold_err)
    assert warm_err < 1e-2, warm_err


def test_personalized_pagerank_matches_power_iteration(spark):
    """PPR seeded at {0} vs an independent NumPy power iteration with
    the reset vector concentrated on the seed."""
    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4)]
    seeds = spark.createDataFrame([(0,)], "id long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank_ranks(
            _pairs(spark, edges), n_iter=10, seeds=seeds
        ).collect()
    }

    n = 5
    adj = np.zeros((n, n))
    for a, b in edges:
        adj[a, b] = adj[b, a] = 1
    deg = adj.sum(axis=1)
    reset = np.zeros(n)
    reset[0] = 1.0
    rank = reset.copy()
    for _ in range(10):
        rank = 0.15 * reset + 0.85 * (adj.T @ (rank / deg))

    assert set(got) == set(range(n))
    for v in range(n):
        assert abs(got[v] - rank[v]) < 1e-9, (v, got[v], rank[v])
    # proximity ordering: the seed's direct neighbors outrank the far leaf
    assert got[1] > got[4] and got[2] > got[4]
    # and the global-PageRank hub ordering does NOT dominate: rank mass
    # concentrates near the seed
    assert got[0] == max(got.values())


def _python_bfs_levels(edges, seed, depth):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    levels, seen = [{seed}], {seed}
    for _ in range(depth):
        nxt = {v for u in levels[-1] for v in adj.get(u, ())} - seen
        levels.append(nxt)
        seen |= nxt
    return levels


def test_bfs_levels_matches_python_bfs(spark):
    """`_bfs_levels` against a plain-Python BFS: a 4-cycle with a tail,
    a separate edge, an isolated seed with no edges at all, a depth past
    every eccentricity (the trailing levels are empty), and both a
    single-column and a (root, node) key."""
    from blockchain2graphdb_spark.operators.graphops import _bfs_levels, _sym_edges

    edges = [(0, 1), (1, 2), (2, 3), (0, 3), (3, 4), (7, 8)]
    depth = 5
    sym = _sym_edges(spark.createDataFrame(edges, "a long, b long"))

    def expand(level):
        return (
            sym.join(level, sym["src"] == level["node"])
            .select(*[c for c in level.columns if c != "node"], F.col("dst").alias("node"))
            .distinct()
        )

    def no_hint(df):
        return df

    levels = _bfs_levels(
        spark.createDataFrame([(0,)], "node long"), expand, ["node"], depth, no_hint
    )
    got = [{r["node"] for r in lv.collect()} for lv in levels]
    assert got == _python_bfs_levels(edges, 0, depth)
    assert got[-1] == got[-2] == set()

    roots = [0, 4, 7, 9]
    seeds = spark.createDataFrame([(r, r) for r in roots], "root long, node long")
    levels = _bfs_levels(seeds, expand, ["root", "node"], depth, no_hint)
    got = [{(r["root"], r["node"]) for r in lv.collect()} for lv in levels]
    want = [set() for _ in range(depth + 1)]
    for root in roots:
        for h, lv in enumerate(_python_bfs_levels(edges, root, depth)):
            want[h] |= {(root, n) for n in lv}
    assert got == want


def _order_parts(spark, sf_dir):
    """Each order's part list (duplicates kept), read as plain rows."""
    from collections import defaultdict

    from blockchain2graphdb_spark.catalog import table

    parts = defaultdict(list)
    for r in table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").collect():
        parts[r["l_orderkey"]].append(r["l_partkey"])
    return parts


def test_basket_pairs_match_per_order_combinations(spark, sf_dir):
    """`_basket_pairs(_order_baskets(...))` is, as a multiset, the
    2-combinations of each order's sorted distinct part set."""
    from collections import Counter
    from itertools import combinations

    from blockchain2graphdb_spark.operators.graphops import _basket_pairs, _order_baskets

    want = Counter(
        pair
        for ps in _order_parts(spark, sf_dir).values()
        for pair in combinations(sorted(set(ps)), 2)
    )
    got = Counter(
        (r["a"], r["b"]) for r in _basket_pairs(_order_baskets(spark, sf_dir)).collect()
    )
    assert sum(want.values()) > 0
    assert got == want


def test_star_edges_match_per_order_min_part(spark, sf_dir):
    """`_star_edges` links every part of an order to the order's min
    part, one row per lineitem (duplicates included), no self-links."""
    from collections import Counter

    from blockchain2graphdb_spark.operators.graphops import _star_edges

    want = Counter(
        (order, min(ps), p)
        for order, ps in _order_parts(spark, sf_dir).items()
        for p in ps
        if p != min(ps)
    )
    got = Counter(
        (r["l_orderkey"], r["src"], r["dst"]) for r in _star_edges(spark, sf_dir).collect()
    )
    assert sum(want.values()) > 0
    assert got == want


def test_bfs_distance_levels(spark, sf_dir):
    from blockchain2graphdb_spark import registry

    df = registry.load_all()["bfs_distance"].builder(spark, sf_dir)
    rows = df.collect()
    dists = {r["dist"] for r in rows}
    assert dists <= {0, 1, 2, 3}
    assert 0 in dists  # seeds present


def test_connected_components_driver_and_distributed_paths_agree(spark):
    """Two-path equivalence (mirrors tests/test_taint.py): the same
    multi-round merge graph labeled by the driver-side union-find
    (driver_threshold=100_000) and by the distributed min-label +
    pointer-doubling loop (driver_threshold=0) must agree exactly.

    The graph is built so the distributed loop genuinely iterates:
    three long chains with shuffled node ids (min labels must travel
    many hops), two late bridges that merge the chains' components
    across rounds, a star, and a singleton edge pair."""
    import random

    from blockchain2graphdb_spark.graph.components import connected_components

    rng = random.Random(7)
    ids = list(range(1_000, 1_600))
    rng.shuffle(ids)
    chains = [ids[0:150], ids[150:300], ids[300:450]]
    edges = []
    for chain in chains:
        edges += list(zip(chain, chain[1:]))
    edges.append((chains[0][120], chains[1][37]))  # bridge A-B
    edges.append((chains[1][140], chains[2][12]))  # bridge B-C
    edges += [(5_000, 5_000 + i) for i in range(1, 6)]  # star
    edges.append((9_000, 9_001))
    df = spark.createDataFrame(edges, "src long, dst long")

    by_path = {}
    for thr in (100_000, 0):
        comp = connected_components(df, driver_threshold=thr)
        by_path[thr] = sorted((r["node"], r["comp"]) for r in comp.collect())
    assert by_path[100_000] == by_path[0]
    # merged chain component: every chain node carries the global min id
    labels = dict(by_path[0])
    chain_min = min(min(c) for c in chains)
    assert all(labels[n] == chain_min for c in chains for n in c)
    assert labels[5_003] == 5_000 and labels[9_001] == 9_000


# shape -> (schema, edges, canonical, expected (node, comp) rows)
_CC_SHAPES = {
    # co-spend wallet edges: string ids, canonical src < dst
    "string_ids": (
        "src string, dst string",
        [("addr_b", "addr_c"), ("addr_a", "addr_c"), ("addr_d", "addr_e"),
         ("addr_e", "addr_f"), ("x1", "x2")],
        True,
        [("addr_a", "addr_a"), ("addr_b", "addr_a"), ("addr_c", "addr_a"),
         ("addr_d", "addr_d"), ("addr_e", "addr_d"), ("addr_f", "addr_d"),
         ("x1", "x1"), ("x2", "x1")],
    ),
    "duplicates": (
        "src long, dst long",
        [(3, 1), (1, 3), (3, 1), (7, 8), (7, 8), (8, 9), (1, 3)],
        False,
        [(1, 1), (3, 1), (7, 7), (8, 7), (9, 7)],
    ),
    "canonical_duplicates": (
        "src long, dst long",
        [(1, 3), (1, 3), (2, 3), (2, 3), (7, 8)],
        True,
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)],
    ),
    # a node with only a self-loop (6) gets no label on either path
    "self_loops": (
        "src long, dst long",
        [(4, 4), (4, 5), (5, 5), (6, 6), (9, 2), (2, 2)],
        False,
        [(2, 2), (4, 4), (5, 4), (9, 2)],
    ),
    "empty": ("src long, dst long", [], False, []),
    "empty_strings": ("src string, dst string", [], True, []),
}


@pytest.mark.parametrize("shape", sorted(_CC_SHAPES))
def test_connected_components_paths_agree_on_edge_shapes(spark, shape):
    """Both paths give the same rows and the same schema on string ids,
    duplicate rows, self-loops and an empty edge list."""
    from blockchain2graphdb_spark.graph.components import connected_components

    ddl, edges, canonical, expected = _CC_SHAPES[shape]
    df = spark.createDataFrame(edges, ddl)
    by_path = {
        thr: connected_components(df, canonical=canonical, driver_threshold=thr)
        for thr in (100_000, 0)
    }
    assert by_path[100_000].schema == by_path[0].schema
    for out in by_path.values():
        assert sorted(map(tuple, out.collect())) == expected


def test_connected_components_driver_path_matches_union_find(spark):
    """The NumPy driver labeling against a plain Python union-find (the
    form it replaced) on random graphs: random-id paths, where labels
    must cross many hops, and sparse random graphs, long and string ids."""
    import random

    from blockchain2graphdb_spark.graph.components import connected_components

    def union_find(edges):
        parent = {}

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for a, b in edges:
            if a == b:
                continue
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return sorted((n, find(n)) for n in parent)

    rng = random.Random(5)
    path = list(range(3_000))
    rng.shuffle(path)
    graphs = {
        "src long, dst long": [
            list(zip(path, path[1:])),
            [(rng.randrange(2_000), rng.randrange(2_000)) for _ in range(1_500)],
        ],
        "src string, dst string": [
            [(f"w{rng.randrange(800)}", f"w{rng.randrange(800)}") for _ in range(600)],
        ],
    }
    for ddl, edge_lists in graphs.items():
        for edges in edge_lists:
            comp = connected_components(spark.createDataFrame(edges, ddl))
            assert sorted(map(tuple, comp.collect())) == union_find(edges), ddl


@pytest.mark.slow  # >9s measured r14; full lane still runs it
def test_incremental_components_equals_full(spark):
    """Folding edge batches incrementally must equal one full CC over
    the union — across merges, brand-new components, and bridges."""
    import random

    from blockchain2graphdb_spark.graph.components import (
        connected_components,
        incremental_components,
    )

    rng = random.Random(11)
    all_edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    all_edges = [(a, b) for a, b in all_edges if a != b]
    batches = [all_edges[:30], all_edges[30:50], all_edges[50:]]

    def df(edges):
        return spark.createDataFrame(edges, "src long, dst long")

    labels = connected_components(df(batches[0]))
    for batch in batches[1:]:
        labels = incremental_components(labels, df(batch)).localCheckpoint(
            eager=True
        )

    full = connected_components(df(all_edges))
    got = {(r["node"], r["comp"]) for r in labels.collect()}
    exp = {(r["node"], r["comp"]) for r in full.collect()}
    assert got == exp


def test_incremental_components_leaves_untouched_labels_alone(spark):
    from blockchain2graphdb_spark.graph.components import (
        connected_components,
        incremental_components,
    )

    base = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    labels = connected_components(base)
    # new edge entirely within {10, 11}: components {1,2} and {3,4} must
    # survive verbatim
    out = incremental_components(
        labels, spark.createDataFrame([(10, 11)], "src long, dst long")
    )
    got = {(r["node"], r["comp"]) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 3), (4, 3), (10, 10), (11, 10)}


# ------------------------------------------ assortativity / weighted edges


def test_copurchase_weights_consistent_with_pairs(spark, sf_dir):
    """Weight keys = the unweighted pair set; weights >= 1; total weight
    = sum over orders of C(#parts, 2)."""
    from math import comb

    import pyspark.sql.functions as F

    from blockchain2graphdb_spark import registry
    from blockchain2graphdb_spark.catalog import table
    from blockchain2graphdb_spark.operators.graphops import _copurchase_pairs

    specs = registry.load_all()
    wrows = specs["copurchase_weights"].builder(spark, sf_dir).collect()
    pairs, _ = _copurchase_pairs(spark, sf_dir, checkpoint=False)
    want_pairs = {(r["a"], r["b"]) for r in pairs.collect()}
    assert {(r["a"], r["b"]) for r in wrows} == want_pairs
    assert all(r["w"] >= 1 for r in wrows)
    per_order = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.size(F.collect_set("l_partkey")).alias("k"))
        .collect()
    )
    assert sum(r["w"] for r in wrows) == sum(comb(r["k"], 2) for r in per_order)


def test_assortativity_bounded(spark, sf_dir):
    from blockchain2graphdb_spark import registry

    r = registry.load_all()["graph_assortativity"].builder(spark, sf_dir).collect()[0]
    assert -1.0 <= r["assortativity"] <= 1.0
    assert r["n_edge_ends"] > 0 and r["n_edge_ends"] % 2 == 0


def test_zscores_center_per_type(spark, sf_dir):
    """Population z-scores over each type's own days must sum to ~0 and
    have unit RMS (definitional identities)."""
    from collections import defaultdict
    from math import sqrt

    from blockchain2graphdb_spark import registry

    rows = registry.load_all()["anomaly_daily_zscore"].builder(spark, sf_dir).collect()
    by_type = defaultdict(list)
    for r in rows:
        by_type[r["event_type"]].append(r["zscore"])
    assert by_type
    for t, zs in by_type.items():
        assert abs(sum(zs)) / len(zs) < 1e-4, t
        rms = sqrt(sum(z * z for z in zs) / len(zs))
        assert abs(rms - 1.0) < 1e-4, t


def test_pagerank_exact_python_parity(spark, sf_dir):
    """The integer fixed-point iteration replayed in pure Python must
    reproduce pagerank_exact bit-for-bit (the cross-engine determinism
    claim, checked against a third implementation)."""
    from collections import defaultdict

    from blockchain2graphdb_spark.operators.graphops import (
        _PR_ITERS,
        _PR_RESET,
        _PR_SCALE,
        _copurchase_pairs,
        pagerank_exact,
    )

    pairs, _ = _copurchase_pairs(spark, sf_dir, checkpoint=False)
    edges = [(r["a"], r["b"]) for r in pairs.collect()]
    adj_in = defaultdict(list)
    deg = defaultdict(int)
    for a, b in edges:
        adj_in[b].append(a)
        adj_in[a].append(b)
        deg[a] += 1
        deg[b] += 1
    score = {n: _PR_SCALE for n in deg}
    for _ in range(_PR_ITERS):
        contrib = {n: score[n] // deg[n] for n in deg}
        score = {
            n: _PR_RESET + (17 * sum(contrib[s] for s in adj_in[n])) // 20
            for n in deg
        }
    want = sorted(((n, s) for n, s in score.items()), key=lambda t: (-t[1], t[0]))[:100]
    got = [(r["part"], r["score"]) for r in pagerank_exact(spark, sf_dir).collect()]
    assert got == want


def test_pagerank_exact_tracks_float_ranking(spark, sf_dir):
    """Quantization sanity: the fixed-point top-20 and the float top-20
    (same damping, same iteration count) overlap heavily — the integer
    variant is PageRank, not a different statistic."""
    from blockchain2graphdb_spark.operators.graphops import (
        _copurchase_pairs,
        pagerank_exact,
    )

    pairs, _ = _copurchase_pairs(spark, sf_dir, checkpoint=False)
    pairs = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    float_top = {
        r["id"]
        for r in pagerank_ranks(pairs, n_iter=5, damping=0.85)
        .orderBy(F.col("rank").desc(), F.col("id"))
        .limit(20)
        .collect()
    }
    exact_top = {
        r["part"] for r in pagerank_exact(spark, sf_dir).limit(20).collect()
    }
    assert len(float_top & exact_top) >= 15


def test_link_prediction_returns_only_non_edges(spark, sf_dir):
    """Every predicted pair must be ABSENT from the support>=2 edge set
    and share at least one neighbor; scores positive; pairs canonical."""
    import pyspark.sql.functions as F

    from blockchain2graphdb_spark import registry
    from blockchain2graphdb_spark.operators.graphops import (
        _copurchase_pairs_support,
    )

    preds = registry.load_all()["link_prediction_aa"].builder(spark, sf_dir)
    rows = preds.collect()
    assert 0 < len(rows) <= 50
    edges = {
        (r["a"], r["b"])
        for r in _copurchase_pairs_support(spark, sf_dir, 2)[0].collect()
    }
    for r in rows:
        assert r["a"] < r["b"], r
        assert (r["a"], r["b"]) not in edges, f"predicted an existing edge: {r}"
        assert r["n_common"] >= 1 and r["aa_score"] > 0, r
