"""Derived fixtures (`paths.derived_dir`): a cached derivation is served
only while every fixture table it reads is unchanged, and building one
fixture root's derivation never touches another root's.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

from blockchain2graphdb_spark import registry
from blockchain2graphdb_spark.catalog import TABLES
from conftest import SF_DIR
from tools.verify_local import compare


def _roots(tmp_path, *names):
    """Fixture roots under tmp_path, each holding a copy of orders."""
    roots = []
    for name in names:
        root = tmp_path / name
        root.mkdir(parents=True)
        shutil.copy(f"{SF_DIR}/orders.parquet", root / "orders.parquet")
        roots.append(str(root))
    return roots


def test_same_basename_roots_keep_separate_derivations(tmp_path, monkeypatch):
    """Two roots sharing a basename (/a/sf0.1 and /b/sf0.1) get distinct
    directories, and building one never sweeps the other's (ADVICE r10)."""
    from blockchain2graphdb_spark.paths import derived_dir

    monkeypatch.setenv("SPARK_GRAFT_TMP_ROOT", str(tmp_path / "tmp"))
    a, b = _roots(tmp_path, "a/sf0.1", "b/sf0.1")

    def build(stage):
        with open(os.path.join(stage, "x"), "w") as f:
            f.write("x")

    da = derived_dir("orcorders", a, ("orders",), build)
    db = derived_dir("orcorders", b, ("orders",), build)
    assert da != db
    assert os.path.isdir(da) and os.path.isdir(db)
    assert sorted(os.listdir(tmp_path / "tmp")) == sorted(
        os.path.basename(d) for d in (da, db)
    )


def test_replay_build_leaves_other_roots_replay(tmp_path, monkeypatch):
    """A root sharing a basename, or extending it (sf0.001 / sf0.0011),
    must keep its live replay when another root's replay is built."""
    from blockchain2graphdb_spark.streaming.queries import _cdc_feed_replay

    monkeypatch.setenv("SPARK_GRAFT_TMP_ROOT", str(tmp_path / "tmp"))
    a, b, c = _roots(tmp_path, "a/sf0.001", "b/sf0.001", "c/sf0.0011")
    da = _cdc_feed_replay(a)
    dc = _cdc_feed_replay(c)
    db = _cdc_feed_replay(b)
    assert len({da, db, dc}) == 3
    for d in (da, db, dc):
        assert sorted(os.listdir(d)) == [f"part-{i:02d}.parquet" for i in range(3)]


def test_nested_leaf_rewrite_rebuilds(tmp_path, monkeypatch):
    """A leaf rewrite inside a directory-form table leaves the top-level
    stat unchanged; the derivation must still be rebuilt from the new
    rows, and the stale generation swept."""
    from blockchain2graphdb_spark.operators.relational import _partitioned_events_dir

    monkeypatch.setenv("SPARK_GRAFT_TMP_ROOT", str(tmp_path / "tmp"))
    root = tmp_path / "sf"
    leaf_dir = root / "events.parquet" / "part=0"
    leaf_dir.mkdir(parents=True)
    leaf = leaf_dir / "frag.parquet"
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    pq.write_table(events, leaf)
    top = root / "events.parquet"
    os.utime(top, ns=(1, 1))

    def n_rows(d):
        return pq.read_table(d).num_rows

    first = _partitioned_events_dir(str(root))
    assert n_rows(first) == events.num_rows
    kept = events.slice(0, events.num_rows // 2)
    pq.write_table(kept, leaf)
    os.utime(top, ns=(1, 1))  # pin the top-level mtime
    second = _partitioned_events_dir(str(root))
    assert n_rows(second) == kept.num_rows
    assert not os.path.exists(first)


def test_snapshot_stores_follow_fixture_rewrite(spark, tmp_path, monkeypatch):
    """Snapshot-store keys must match their oracle before AND after the
    fixture's orders are rewritten in place (here: to the odd keys)."""
    monkeypatch.setenv("SPARK_GRAFT_TMP_ROOT", str(tmp_path / "tmp"))
    root = str(tmp_path / "sf0.001")
    shutil.copytree(SF_DIR, root)
    specs = registry.load_all()
    keys = ("snapshot_time_travel", "snapshot_reorg_overwrite")

    def check():
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{root}/{t}.parquet')")
        for key in keys:
            sdf = specs[key].builder(spark, root).toPandas()
            odf = con.sql(specs[key].oracle).df()
            problems = compare(key, sdf, odf)
            assert not problems, f"{key}: {problems}"

    check()
    orders = pq.read_table(f"{root}/orders.parquet")
    odd = orders.filter(pc.equal(pc.bit_wise_and(orders["o_orderkey"], 1), 1))
    pq.write_table(odd, f"{root}/orders.parquet")
    check()
