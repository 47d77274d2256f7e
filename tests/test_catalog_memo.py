"""Session memos (plans/memo.py): the catalog.table PLAN memo, the
register_views skip, the checkpointed co-purchase pairs and the
sampled-seed BFS.

These tests pin the invalidation contract shared by every memo: same
fixture → same object; a new session token, a different chaos spec, a
fixture rewrite (top-level mtime bump or a nested leaf inside a
directory dataset), or a different sf_dir → a fresh build.
"""

from __future__ import annotations

import os
import shutil
import warnings

import pyarrow.parquet as pq
import pytest

from blockchain2graphdb_spark.catalog import table
from blockchain2graphdb_spark.operators import sqlsuite
from blockchain2graphdb_spark.plans import fallback, memo


def _pairs(spark, d):
    from blockchain2graphdb_spark.operators.graphops import _copurchase_pairs

    return _copurchase_pairs(spark, d)[0]


def _seed_bfs(spark, d):
    from blockchain2graphdb_spark.operators.centrality import _BTW_SEEDS, _seed_bfs

    return _seed_bfs(spark, d, _BTW_SEEDS)[0]


# one probe per memo over lineitem-derived values: each returns the
# memoized object itself, so `is` distinguishes a hit from a rebuild
PROBES = {
    "table": lambda spark, d: table(spark, d, "lineitem"),
    "pairs": _pairs,
    "seed_bfs": _seed_bfs,
}


def test_table_memo_hit_same_fixture(spark, sf_dir):
    a = table(spark, sf_dir, "region")
    b = table(spark, sf_dir, "region")
    assert a is b  # plan handle reused — no rebuild


def test_table_memo_miss_on_mtime_bump(spark, sf_dir, tmp_path):
    # copy a fixture so we can touch it without perturbing /root/testdata
    src = os.path.join(sf_dir, "region.parquet")
    dst_dir = str(tmp_path)
    shutil.copy(src, os.path.join(dst_dir, "region.parquet"))
    a = table(spark, dst_dir, "region")
    os.utime(os.path.join(dst_dir, "region.parquet"))  # simulate regeneration
    b = table(spark, dst_dir, "region")
    assert a is not b  # regenerated fixture must never serve a stale plan
    assert a.count() == b.count()


def test_table_memo_miss_on_chaos_spec(spark, sf_dir):
    base = table(spark, sf_dir, "region")
    os.environ["SPARK_GRAFT_CHAOS"] = "region"
    try:
        wrapped = table(spark, sf_dir, "region")
    finally:
        os.environ.pop("SPARK_GRAFT_CHAOS", None)
    # chaos binds at plan-construction time: the spec is part of the key
    assert wrapped is not base
    assert table(spark, sf_dir, "region") is base  # unset → original key

    # every memo keys on the spec ("region" injects nothing into the
    # lineitem/part reads these values are built from)
    for name, probe in PROBES.items():
        base = probe(spark, sf_dir)
        assert probe(spark, sf_dir) is base, name
        os.environ["SPARK_GRAFT_CHAOS"] = "region"
        try:
            other = probe(spark, sf_dir)
        finally:
            os.environ.pop("SPARK_GRAFT_CHAOS", None)
        assert other is not base, name
        assert probe(spark, sf_dir) is base, name


def test_memo_miss_on_new_session_token(spark, sf_dir):
    for name, probe in PROBES.items():
        base = probe(spark, sf_dir)
        old = spark._b2g_session_token
        spark._b2g_session_token = "another-session"
        try:
            other = probe(spark, sf_dir)
        finally:
            spark._b2g_session_token = old
        assert other is not base, name
        assert probe(spark, sf_dir) is base, name


def test_memo_miss_on_nested_rewrite(spark, sf_dir, tmp_path):
    """A leaf rewritten inside a directory-layout lineitem.parquet, with
    the top directory's size and mtime unchanged, must miss every memo."""
    d = str(tmp_path)
    shutil.copy(os.path.join(sf_dir, "part.parquet"), d)
    top = tmp_path / "lineitem.parquet"
    (top / "part=0").mkdir(parents=True)
    leaf = str(top / "part=0" / "frag.parquet")
    rows = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    pq.write_table(rows, leaf)
    os.utime(top, ns=(1, 1))
    before = {name: probe(spark, d) for name, probe in PROBES.items()}
    pq.write_table(rows.slice(0, rows.num_rows // 2), leaf)  # in place
    os.utime(top, ns=(1, 1))
    for name, probe in PROBES.items():
        assert probe(spark, d) is not before[name], name


def test_table_memo_distinct_sf_dirs(spark):
    a = table(spark, "/root/testdata/sf0.001", "nation")
    b = table(spark, "/root/testdata/sf0.01", "nation")
    assert a is not b


def test_register_views_skip_and_reregister(spark, sf_dir, monkeypatch):
    from pyspark.sql import DataFrame

    sqlsuite.register_views(spark, sf_dir)
    registered = []
    bind = DataFrame.createOrReplaceTempView
    monkeypatch.setattr(
        DataFrame,
        "createOrReplaceTempView",
        lambda df, name: (registered.append(name), bind(df, name))[1],
    )
    sqlsuite.register_views(spark, sf_dir)  # identical → skipped
    assert registered == []
    n_small = spark.sql("SELECT COUNT(*) AS n FROM customer").collect()[0].n

    other = "/root/testdata/sf0.01"
    sqlsuite.register_views(spark, other)  # different sf_dir → re-registered
    n_big = spark.sql("SELECT COUNT(*) AS n FROM customer").collect()[0].n
    assert n_big > n_small

    sqlsuite.register_views(spark, sf_dir)  # and back
    n_again = spark.sql("SELECT COUNT(*) AS n FROM customer").collect()[0].n
    assert n_again == n_small

    # any missing view forces re-registration, not only the first table
    spark.catalog.dropTempView("customer")
    sqlsuite.register_views(spark, sf_dir)
    n_healed = spark.sql("SELECT COUNT(*) AS n FROM customer").collect()[0].n
    assert n_healed == n_small


def test_memo_serves_plans_not_results(spark, tmp_path):
    """The memo must never freeze DATA: a rewrite of the same path that
    changes content is picked up by the identity key, and the fresh
    handle scans the new bytes."""
    dst = str(tmp_path)
    shutil.copy("/root/testdata/sf0.001/customer.parquet",
                os.path.join(dst, "customer.parquet"))
    n_small = table(spark, dst, "customer").count()
    shutil.copy("/root/testdata/sf0.01/customer.parquet",
                os.path.join(dst, "customer.parquet"))
    n_big = table(spark, dst, "customer").count()
    assert n_big > n_small


def test_session_memo_evicts_oldest_first_and_releases():
    released = []
    m = memo.SessionMemo(2, release=released.append)
    for k in ("a", "b", "c"):
        m.put((k,), k.upper())
    assert released == ["A"]  # oldest first, released on eviction
    assert m.get(("a",)) is None and m.get(("c",)) == "C"
    m.reset()
    assert sorted(released) == ["A", "B", "C"]
    memo._MEMOS.remove(m)


def test_memo_release_of_non_checkpoint_warns_once(spark, monkeypatch):
    """Releasing blocks is best-effort: a frame with no checkpoint RDD
    leaves them to the session, with one warning, never an error."""
    monkeypatch.setattr(fallback, "_WARNED", set())
    plain = spark.range(3)
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        memo.release_checkpoints([plain, plain])
    mine = [w for w in seen if str(w.message).startswith("memo eviction:")]
    assert len(mine) == 1
    ck = spark.range(3).localCheckpoint(eager=True)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    memo.release_checkpoints([ck])
    assert jsc.getPersistentRDDs().size() == before - 1
