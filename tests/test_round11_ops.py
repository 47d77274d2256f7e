"""Round-11 regression pins: the join_skew_salted plan shape promised by
its docstring (ADVICE r10 medium), the bucketed_prefix_sums non-null
bucket contract, and the orc/derived-cache tag scoping.
"""

from __future__ import annotations

import pytest

from blockchain2graphdb_spark import registry
from blockchain2graphdb_spark.plans.inspect import count_nodes, plan_string

from conftest import SF_DIR

SPECS = registry.load_all()


def test_join_skew_salted_plan_shape(spark):
    """The skew-mitigation demo only demonstrates anything if the plan
    actually takes the salted shuffle-join path: a ShuffledHashJoin on
    the composite (hk, salt) key, a Generate (the dim-side explode into
    R salt replicas), and NO broadcast join anywhere — Spark silently
    reverting to broadcasting the tiny dim would make the key a no-op
    while staying value-correct (the oracle is the unsalted join)."""
    df = SPECS["join_skew_salted"].builder(spark, SF_DIR)
    plan = plan_string(df)
    assert count_nodes(df, "BroadcastHashJoin") == 0, plan
    assert count_nodes(df, "ShuffledHashJoin") == 1, plan
    assert count_nodes(df, "Generate") >= 1, plan
    # the join keys are the composite (hk, salt) pair, not hk alone
    import re

    m = re.search(r"Left keys \[2\]: \[([^\]]*)\]", plan)
    assert m is not None, plan
    left_keys = m.group(1)
    assert "hk" in left_keys and "salt" in left_keys, plan


def test_bucketed_prefix_sums_rejects_null_buckets(spark):
    """The two-pass prefix-sum joins back on the bucket column, and an
    equi-join never matches NULL keys — so a NULL bucket would silently
    drop rows. The contract now fails loudly instead (ADVICE r10 low)."""
    from pyspark.sql import functions as F

    from blockchain2graphdb_spark.functions.ranking import bucketed_prefix_sums

    df = spark.range(10).select(
        F.when(F.col("id") < 8, F.col("id") % 2).alias("b"),
        F.col("id").alias("k"),
        F.lit(1).alias("v"),
    )
    out = bucketed_prefix_sums(
        df, F.col("b"), [F.col("k")], {"cum": F.col("v")}
    )
    with pytest.raises(Exception, match="null bucket"):
        out.collect()


def test_bucketed_prefix_sums_still_exact_on_nonnull(spark):
    from pyspark.sql import functions as F

    from blockchain2graphdb_spark.functions.ranking import bucketed_prefix_sums

    df = spark.range(100).select(
        (F.col("id") % 5).alias("b"),
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("v"),
    )
    out = bucketed_prefix_sums(
        df, F.col("b") , [F.col("k")], {"cum": F.col("v")}
    ).orderBy("b", "k")
    rows = out.collect()
    # replay: global order is (b, k); cum is the running sum of v
    rows_sorted = sorted(rows, key=lambda r: (r["b"], r["k"]))
    run = 0
    for r in rows_sorted:
        run += r["v"]
        assert r["cum"] == run, (r, run)


# --- adaptive broadcast threshold (VERDICT r10 #5 / SURVEY §8 limit) ---


def test_parse_mem_units():
    from blockchain2graphdb_spark.plans.sizing import parse_mem

    assert parse_mem("8g") == 8 << 30
    assert parse_mem("512m") == 512 << 20
    assert parse_mem("1024k") == 1024 << 10
    assert parse_mem("1t") == 1 << 40
    # bare numbers are MiB (spark.executor.memory semantics)
    assert parse_mem("2048") == 2048 << 20
    with pytest.raises(ValueError):
        parse_mem("lots")


def test_adaptive_broadcast_rows_derives_from_session_heap(spark):
    from blockchain2graphdb_spark.plans.sizing import (
        adaptive_broadcast_rows,
        heap_bytes,
        parse_mem,
    )

    # local mode: the heap is the driver JVM's
    assert spark.conf.get("spark.master").startswith("local")
    assert heap_bytes(spark) == parse_mem(spark.conf.get("spark.driver.memory"))
    got = adaptive_broadcast_rows(spark)
    expected = max(
        100_000, min(64_000_000, int(heap_bytes(spark) * 0.10) // 64)
    )
    assert got == expected
    # knobs respected + clamps hold
    assert adaptive_broadcast_rows(spark, bytes_per_row=2**60) == 100_000
    assert adaptive_broadcast_rows(spark, fraction=1e9) == 64_000_000


@pytest.mark.slow  # >9s measured r13; full lane still runs it
def test_pregel_broadcast_switch_equivalence(spark):
    """The same Pregel computation forced down the broadcast path, the
    shuffle path, and the adaptive default must agree exactly — the
    two-path test extended to cover the adaptive switch."""
    from blockchain2graphdb_spark.graph.pregel import chain_heights, pregel
    from pyspark.sql import functions as F

    # a 16-block chain: heights 0..15 via message passing. Depth only
    # multiplies supersteps (one hop per round x three forced paths —
    # the r13 durations run measured 97s at depth 60); the equivalence
    # property and the adaptive-switch coverage are depth-independent,
    # so 16 buys the same assertion at a quarter of the wall time.
    rows = [(f"h{i:03d}", None if i == 0 else f"h{i-1:03d}") for i in range(16)]
    blocks = spark.createDataFrame(rows, "hash string, prev_hash string")

    def run(bn):
        vertices = blocks.select(
            F.col("hash").alias("id"),
            F.when(F.col("prev_hash").isNull(), F.lit(0))
            .otherwise(F.lit(None))
            .alias("attr"),
        )
        edges = blocks.where(F.col("prev_hash").isNotNull()).select(
            F.col("prev_hash").alias("src"), F.col("hash").alias("dst")
        )
        out = pregel(
            vertices,
            edges,
            send_msg=lambda s, d: F.when(s.isNotNull() & d.isNull(), s + 1),
            agg_msg=F.max,
            vprog=lambda attr, msg: F.coalesce(attr, msg),
            max_iter=64,
            broadcast_nodes=bn,
        )
        return sorted((r["id"], r["attr"]) for r in out.collect())

    forced_broadcast = run(10**9)
    forced_shuffle = run(0)
    adaptive = run(None)
    assert forced_broadcast == forced_shuffle == adaptive
    assert dict(adaptive)["h015"] == 15


@pytest.mark.slow  # >5.5s in the r14 fast-lane durations; full lane still runs it
def test_components_adaptive_threshold_agrees_with_forced_paths(spark):
    from blockchain2graphdb_spark.graph.components import connected_components

    edges = [(i, i + 1) for i in range(100, 180)] + [(500, 501), (501, 502)]
    df = spark.createDataFrame(edges, "src long, dst long")
    outs = []
    for bn in (0, 10**9, None):
        comp = connected_components(df, driver_threshold=0, broadcast_nodes=bn)
        outs.append(sorted((r["node"], r["comp"]) for r in comp.collect()))
    assert outs[0] == outs[1] == outs[2]


# --- sampled centrality (round-11 capability extension) ---


def _python_seed_bfs(sf_dir, n_seeds, depth=3):
    """Independent pure-Python replay of _seed_bfs: distinct co-purchase
    edges from the parquet, md5-smallest seeds, level BFS with
    shortest-path counts."""
    import hashlib
    from collections import defaultdict

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    by_order = defaultdict(set)
    for o, p in zip(t.column("l_orderkey").to_pylist(), t.column("l_partkey").to_pylist()):
        by_order[o].add(p)
    adj = defaultdict(set)
    for ps in by_order.values():
        ps = sorted(ps)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                adj[a].add(b)
                adj[b].add(a)
    nodes = sorted(adj)
    seeds = sorted(nodes, key=lambda n: (hashlib.md5(str(n).encode()).hexdigest(), n))[
        :n_seeds
    ]
    bfs = {}  # (root, node) -> (dist, sigma)
    for root in seeds:
        level = {root: 1}
        seen = {root}
        bfs[(root, root)] = (0, 1)
        for h in range(1, depth + 1):
            nxt = {}
            for v, sig in level.items():
                for w in adj[v]:
                    if w not in seen:
                        nxt[w] = nxt.get(w, 0) + sig
            for w, sig in nxt.items():
                bfs[(root, w)] = (h, sig)
            seen |= set(nxt)
            level = nxt
    return bfs, seeds


def test_betweenness_approx_python_replay(spark, sf_dir):
    bfs, seeds = _python_seed_bfs(sf_dir, 16)
    score = {}
    for pid in range(8):
        s, t = seeds[pid], seeds[pid + 8]
        if (s, t) not in bfs:
            continue
        dst, sst = bfs[(s, t)]
        for (root, node), (ds, ss) in bfs.items():
            if root != s or node in (s, t) or (t, node) not in bfs:
                continue
            dt, ts = bfs[(t, node)]
            if ds + dt == dst:
                num = ss * ts
                score[node] = score.get(node, 0) + (num // sst) * 10**9 + (
                    (num % sst) * 10**9
                ) // sst
    expected = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:50]

    from blockchain2graphdb_spark import registry

    got = [
        (r["node"], r["btw_nanos"])
        for r in registry.load_all()["betweenness_approx"]
        .builder(spark, sf_dir)
        .collect()
    ]
    assert got == expected


def test_closeness_approx_python_replay(spark, sf_dir):
    bfs, _seeds = _python_seed_bfs(sf_dir, 8)
    agg = {}
    for (_root, node), (d, _sig) in bfs.items():
        if d > 0:
            n, h = agg.get(node, (0, 0))
            agg[node] = (n + 1, h + 10**9 // d)
    expected = sorted(
        ((node, n, h) for node, (n, h) in agg.items()),
        key=lambda r: (-r[2], r[0]),
    )[:100]

    from blockchain2graphdb_spark import registry

    got = [
        (r["node"], r["n_reached"], r["harm_nanos"])
        for r in registry.load_all()["closeness_approx"]
        .builder(spark, sf_dir)
        .collect()
    ]
    assert got == expected


def test_betweenness_plan_is_single_frontier_no_per_seed_loop(spark):
    """The estimator must be ONE multi-source BFS plus a fixed number of
    pair joins: nothing pairwise/cartesian, the final cut a TakeOrdered,
    and the join count a CONSTANT in the seed count (seeds only widen
    the frontier rows) — doubling the seeds must not change the plan
    shape."""
    from blockchain2graphdb_spark.operators.centrality import _seed_bfs
    from blockchain2graphdb_spark.plans.inspect import (
        count_nodes,
        has_node,
        plan_string,
    )
    from blockchain2graphdb_spark import registry

    df = registry.load_all()["betweenness_approx"].builder(spark, SF_DIR)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert has_node(df, "TakeOrderedAndProject"), plan

    def join_count(n_seeds):
        bfs, _ = _seed_bfs(spark, SF_DIR, n_seeds)
        p = plan_string(bfs)
        return sum(
            p.count(j)
            for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        )

    assert join_count(4) == join_count(8)


def test_est_row_bytes_schema_scaling():
    """The adaptive gate must shrink for wider vertex rows — the SURVEY
    §8 residual (constant 64 B estimate) closed by schema measurement."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from blockchain2graphdb_spark.plans.sizing import est_row_bytes

    narrow = StructType(
        [StructField("id", LongType()), StructField("attr", LongType())]
    )
    wide = StructType(
        [
            StructField("id", StringType()),
            StructField(
                "attr",
                StructType(
                    [StructField("r", DoubleType()), StructField("d", LongType())]
                ),
            ),
        ]
    )
    assert est_row_bytes(narrow) < est_row_bytes(wide)
    assert est_row_bytes(narrow) >= 16  # floor * overhead


def test_map_mrr_plan_topk_is_window_group_limit(spark):
    """The rank-10 cut must compile to WindowGroupLimit (map-side
    partial top-10 per query) — a full per-query sort would be the
    100 TB scale-killer for ranking metrics."""
    from blockchain2graphdb_spark.plans.inspect import has_node

    for key in ("map_at_k", "mrr_at_k"):
        df = SPECS[key].builder(spark, SF_DIR)
        assert has_node(df, "WindowGroupLimit"), key


def test_map_at_k_python_replay(spark, sf_dir):
    """AP@10 against an independent pandas replay of the definition."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderpriority", "o_orderkey", "o_totalprice", "o_orderstatus"],
    ).to_pylist()
    by_q = {}
    for r in t:
        by_q.setdefault(r["o_orderpriority"], []).append(r)
    expected = {}
    for q, rows in by_q.items():
        rows.sort(key=lambda r: (-r["o_totalprice"], r["o_orderkey"]))
        n_rel = sum(1 for r in rows if r["o_orderstatus"] == "F")
        hits, terms = 0, 0
        for i, r in enumerate(rows[:10], start=1):
            if r["o_orderstatus"] == "F":
                hits += 1
                terms += (10**9 * hits) // i
        m = min(n_rel, 10)
        expected[q] = (n_rel, terms // m if m else 0)
    got = {
        r["qry"]: (r["n_rel"], r["ap_nanos"])
        for r in SPECS["map_at_k"].builder(spark, sf_dir).collect()
    }
    assert got == expected


def test_edge_betweenness_python_replay(spark, sf_dir):
    bfs, seeds = _python_seed_bfs(sf_dir, 16)
    # adjacency for edge enumeration
    import hashlib
    from collections import defaultdict

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    by_order = defaultdict(set)
    for o, p in zip(t.column("l_orderkey").to_pylist(), t.column("l_partkey").to_pylist()):
        by_order[o].add(p)
    edges = set()
    for ps in by_order.values():
        ps = sorted(ps)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                edges.add((a, b))
    score = {}
    for pid in range(8):
        s, t_ = seeds[pid], seeds[pid + 8]
        if (s, t_) not in bfs:
            continue
        dst, sst = bfs[(s, t_)]
        for (a, b) in edges:
            for u, v in ((a, b), (b, a)):
                if (s, u) not in bfs or (t_, v) not in bfs:
                    continue
                dsu, ssu = bfs[(s, u)]
                dtv, tsv = bfs[(t_, v)]
                if dsu + 1 + dtv == dst:
                    num = ssu * tsv
                    key = (min(u, v), max(u, v))
                    score[key] = score.get(key, 0) + (num // sst) * 10**9 + (
                        (num % sst) * 10**9
                    ) // sst
    expected = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    expected = [(a, b, s_) for (a, b), s_ in expected]

    from blockchain2graphdb_spark import registry

    got = [
        (r["a"], r["b"], r["ebtw_nanos"])
        for r in registry.load_all()["edge_betweenness_approx"]
        .builder(spark, sf_dir)
        .collect()
    ]
    assert got == expected
