"""Regenerate expected.json: fingerprints of every registry key the
benchmark runs, over the generated fixture.

Each fingerprint comes from the key's DuckDB oracle, except
`wallet_components`, whose 20-round recursive oracle is replaced by a
union-find over the same co-purchase edges (component label = smallest
member). With --spark the Spark result of every key is fingerprinted too
and must match.

    python3 perfbench/make_expected.py [--spark]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
import fingerprint  # noqa: E402
import workloads  # noqa: E402


def wallet_components(data_dir: str) -> dict:
    li = pq.read_table(os.path.join(data_dir, "lineitem.parquet"),
                       columns=["l_orderkey", "l_partkey"]).to_pandas()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for _, parts in li.groupby("l_orderkey")["l_partkey"]:
        members = sorted(set(int(p) for p in parts))
        if len(members) < 2:
            continue  # no edge: the key's graph has no isolated nodes
        for p in members:
            parent.setdefault(p, p)
        for p in members[1:]:
            a, b = find(members[0]), find(p)
            if a != b:
                parent[max(a, b)] = min(a, b)
    rows = [(p, find(p)) for p in sorted(parent)]
    return fingerprint.of_records(["part", "component"], rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spark", action="store_true")
    args = ap.parse_args()

    from blockchain2graphdb_spark import registry
    from blockchain2graphdb_spark.catalog import TABLES

    data_dir = os.path.join(HERE, ".work", f"data-{datagen.DATA_SEED}")
    datagen.ensure(data_dir)
    specs = registry.load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    keys = workloads.GRAPH_KEYS + workloads.QUERY_KEYS
    out = {}
    for key in keys:
        if key == "wallet_components":
            out[key] = wallet_components(data_dir)
        else:
            out[key] = fingerprint.of_pandas(con.sql(specs[key].oracle).df())
        print(key, out[key], flush=True)

    bad = 0
    if args.spark:
        from blockchain2graphdb_spark.session import get_spark

        spark = get_spark("perfbench-expected")
        for key in keys:
            got = fingerprint.of_pandas(specs[key].builder(spark, data_dir).toPandas())
            if got != out[key]:
                bad += 1
                print(f"MISMATCH {key}: spark {got} vs reference {out[key]}", flush=True)
        spark.stop()
    if bad:
        return 1
    with open(workloads.EXPECTED_PATH, "w") as f:
        json.dump({"data_seed": datagen.DATA_SEED, "keys": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
