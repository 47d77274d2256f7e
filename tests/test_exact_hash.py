"""The content-hash primitive: `exact.md5_int` / `exact.hex_int` read hex
digits [start, start+digits) of an md5 digest as a bigint. Both are
checked against Python's hashlib and against the DuckDB twin every
oracle writes by hand, `('0x' || substr(md5(...), s, k))::BIGINT`; a
guard keeps the pick expression from being pasted again elsewhere."""

from __future__ import annotations

import hashlib
import os
import re

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from blockchain2graphdb_spark.exact import hex_int, md5_int

SLICES = [(s, k) for s in (1, 9) for k in (1, 2, 4, 8, 15)]

ROWS = [
    (0, 0, ""),
    (1, 1, "a"),
    (2, 42, "hello world"),
    (3, -5, "ünïcode"),
    (4, 123456789012, "x:y"),
    (5, 2**62, "0"),
    (6, -(2**63), "long" * 40),
    (7, None, "k is null"),
    (8, 9, None),
]


def _py(parts, start: int, digits: int):
    if any(p is None for p in parts):
        return None
    key = "".join(str(p) for p in parts)
    hexdigest = hashlib.md5(key.encode()).hexdigest()
    return int(hexdigest[start - 1 : start - 1 + digits], 16)


def _keys(k, s):
    """The three key shapes: one long part, one string part, and
    tag + long + ':' + string."""
    return {"one_long": [k], "one_str": [s], "multi": ["tag", k, ":", s]}


@pytest.fixture(scope="module")
def keyed(spark):
    return spark.createDataFrame(ROWS, "id int, k long, s string")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    rows = pd.DataFrame(ROWS, columns=["id", "k", "s"]).astype({"k": "Int64"})
    con.register("keyed", rows)
    yield con
    con.close()


def _duck_rows(duck, cols: dict[str, str]):
    sql = ", ".join(f"{expr} AS {name}" for name, expr in cols.items())
    got = duck.execute(f"SELECT id, {sql} FROM keyed ORDER BY id").fetchall()
    return {r[0]: dict(zip(cols, r[1:])) for r in got}


def test_md5_int_matches_hashlib_and_duckdb(keyed, duck):
    spark_cols, duck_cols = [], {}
    duck_keys = {
        "one_long": "CAST(k AS VARCHAR)",
        "one_str": "s",
        "multi": "'tag' || CAST(k AS VARCHAR) || ':' || s",
    }
    for s, k in SLICES:
        spark_cols += [
            md5_int(F.col("k"), start=s, digits=k).alias(f"one_long_{s}_{k}"),
            md5_int(F.col("s"), start=s, digits=k).alias(f"one_str_{s}_{k}"),
            md5_int("tag", F.col("k"), ":", F.col("s"), start=s, digits=k).alias(
                f"multi_{s}_{k}"
            ),
        ]
        for shape, key in duck_keys.items():
            duck_cols[f"{shape}_{s}_{k}"] = (
                f"('0x' || substr(md5({key}), {s}, {k}))::BIGINT"
            )
    got = {r["id"]: r.asDict() for r in keyed.select("id", *spark_cols).collect()}
    twin = _duck_rows(duck, duck_cols)
    checked = 0
    for i, k_val, s_val in ROWS:
        for shape, parts in _keys(k_val, s_val).items():
            for s, k in SLICES:
                col = f"{shape}_{s}_{k}"
                want = _py(parts, s, k)
                assert got[i][col] == want, (i, col)
                assert twin[i][col] == want, (i, col)
                checked += want is not None
    assert checked > len(ROWS) * len(SLICES)


def test_hex_int_matches_hashlib_and_duckdb(keyed, duck):
    key = F.concat(F.lit("tag"), F.col("k").cast("string"), F.col("s"))
    digests = keyed.select("id", F.md5(key).alias("h"))
    got = {
        r["id"]: r.asDict()
        for r in digests.select(
            "id",
            *[hex_int("h", start=s, digits=k).alias(f"h_{s}_{k}") for s, k in SLICES],
            *[hex_int(F.col("h"), s, k).alias(f"c_{s}_{k}") for s, k in SLICES],
        ).collect()
    }
    pick = "('0x' || substr(md5('tag' || CAST(k AS VARCHAR) || s), {}, {}))::BIGINT"
    twin = _duck_rows(duck, {f"h_{s}_{k}": pick.format(s, k) for s, k in SLICES})
    for i, k_val, s_val in ROWS:
        for s, k in SLICES:
            want = _py(["tag", k_val, s_val], s, k)
            assert got[i][f"h_{s}_{k}"] == want, (i, s, k)
            assert got[i][f"c_{s}_{k}"] == want, (i, s, k)
            assert twin[i][f"h_{s}_{k}"] == want, (i, s, k)


def test_sixteen_digits_overflow_is_rejected(spark):
    with pytest.raises(ValueError):
        md5_int("tag", F.col("k"), digits=16)
    with pytest.raises(ValueError):
        hex_int(F.col("h"), start=9, digits=16)


def test_no_pasted_hex_pick_outside_exact():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "blockchain2graphdb_spark")
    pasted = []
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(pkg, "exact.py"):
                continue
            with open(path, encoding="utf-8") as f:
                for n, line in enumerate(f, 1):
                    if re.search(r"F\.conv\(", line):
                        pasted.append(f"{os.path.relpath(path, pkg)}:{n}")
    assert not pasted, f"use exact.md5_int / hex_int instead of F.conv: {pasted}"
