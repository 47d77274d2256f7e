"""The integer vector kernels: `vectors.dot`, `norm2`, `sq_dist` and
`cosine` are exact long folds (and one double quotient). Each is checked
against NumPy int64 and against the DuckDB list arithmetic the oracles
write by hand (`SUM(a.qv[i] * b.qv[i])` over `range(1, d + 1)`); a guard
keeps the fold from being pasted again outside `functions/vectors.py`."""

from __future__ import annotations

import ast
import os
import random
import re

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from blockchain2graphdb_spark.functions.vectors import cosine, dot, norm2, sq_dist

_BIG = 2**20


def _rows():
    """(id, k, a, b): equal-length long arrays. `wide` rows reach ±2^20
    (dot/norm2/sq_dist only: their norm products overflow a long);
    `unit` rows are quantized-embedding sized and also check cosine."""
    rng = random.Random(13)
    wide, unit = [], []
    for i, n in enumerate([1, 1, 2, 3, 7, 64, 64, 64, 17, 5]):
        pick = [
            lambda: rng.randint(-_BIG, _BIG),
            lambda: rng.choice([_BIG, -_BIG, _BIG - 1, 1 - _BIG]),
            lambda: rng.randint(-3, 3),
        ][i % 3]
        wide.append((i, 1, [pick() for _ in range(n)], [pick() for _ in range(n)]))
    for i, n in enumerate([1, 1, 2, 4, 8, 64, 64, 64, 33, 64], start=100):
        a = [rng.randint(-4000, 4000) for _ in range(n)]
        b = [rng.randint(-4000, 4000) for _ in range(n)]
        if i == 101:
            a, b = [-1], [-1]
        unit.append((i, rng.randint(1, 5), a, b))
    return wide, unit


WIDE, UNIT = _rows()
SCHEMA = "id int, k long, a array<long>, b array<long>"


def _np(a, b, k):
    a, b = np.array(a, dtype=np.int64), np.array(b, dtype=np.int64)
    d, na, nb = int(a @ b), int(a @ a), int(b @ b)
    return {
        "dot": d,
        "na": na,
        "nb": nb,
        "d2": int(((a - b) ** 2).sum()),
        "d2k": int(((k * a - b) ** 2).sum()),
        "cos": float(np.float64(d) / np.sqrt(np.float64(na * nb))) if na and nb else None,
    }


def _spark(spark, rows, with_cosine: bool):
    df = spark.createDataFrame(rows, SCHEMA)
    cols = [
        dot("a", "b").alias("dot"),
        norm2("a").alias("na"),
        norm2(F.col("b")).alias("nb"),
        sq_dist("a", "b").alias("d2"),
        sq_dist("a", "b", scale=F.col("k")).alias("d2k"),
    ]
    if with_cosine:
        cols.append(cosine(dot("a", "b"), norm2("a"), norm2("b")).alias("cos"))
    return {r["id"]: r.asDict() for r in df.select("id", *cols).collect()}


def _duck(rows, with_cosine: bool):
    con = duckdb.connect()
    try:
        con.register("raw", pd.DataFrame(rows, columns=["id", "k", "a", "b"]))
        con.execute(
            "CREATE VIEW v AS SELECT id, CAST(k AS BIGINT) AS k,"
            " CAST(a AS BIGINT[]) AS a, CAST(b AS BIGINT[]) AS b FROM raw"
        )
        idx = "FROM (SELECT unnest(range(1, len(a) + 1)) AS i) i"
        sql = f"""
        WITH s AS (
          SELECT id,
                 (SELECT SUM(a[i.i] * b[i.i]) {idx}) AS dot,
                 (SELECT SUM(x * x) FROM unnest(a) AS t(x)) AS na,
                 (SELECT SUM(x * x) FROM unnest(b) AS t(x)) AS nb,
                 (SELECT SUM((a[i.i] - b[i.i]) * (a[i.i] - b[i.i])) {idx}) AS d2,
                 (SELECT SUM((k * a[i.i] - b[i.i]) * (k * a[i.i] - b[i.i])) {idx}) AS d2k
          FROM v
        )
        SELECT id, CAST(dot AS BIGINT), CAST(na AS BIGINT), CAST(nb AS BIGINT),
               CAST(d2 AS BIGINT), CAST(d2k AS BIGINT)
               {", CAST(dot AS DOUBLE) / SQRT(CAST(na * nb AS DOUBLE))" if with_cosine else ""}
        FROM s
        """
        names = ["dot", "na", "nb", "d2", "d2k", "cos"]
        return {r[0]: dict(zip(names, r[1:])) for r in con.execute(sql).fetchall()}
    finally:
        con.close()


@pytest.mark.parametrize("name", ["wide", "unit"])
def test_kernels_match_numpy_and_duckdb(spark, name):
    rows, with_cosine = (WIDE, False) if name == "wide" else (UNIT, True)
    got, twin = _spark(spark, rows, with_cosine), _duck(rows, with_cosine)
    assert set(got) == set(twin) == {r[0] for r in rows}
    for i, k, a, b in rows:
        want = _np(a, b, k)
        for col in ["dot", "na", "nb", "d2", "d2k"] + (["cos"] if with_cosine else []):
            assert got[i][col] == want[col], (name, i, col)
            assert twin[i][col] == want[col], (name, i, col)


def test_empty_array_sums_to_zero(spark):
    df = spark.createDataFrame([(0, 1, [], [])], SCHEMA)
    r = df.select(
        dot("a", "b").alias("dot"),
        norm2("a").alias("n"),
        sq_dist("a", "b").alias("d2"),
    ).first()
    assert (r["dot"], r["n"], r["d2"]) == (0, 0, 0)


_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "blockchain2graphdb_spark"
)
_ELEMENTWISE = {"zip_with", "transform"}
# `aggregate(zip_with(...), zero, (acc, x) -> acc + x)` in Spark SQL text
_SQL_SUM_FOLD = re.compile(
    r"aggregate\(\s*(?:zip_with|transform)\(.*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*->\s*\1\s*\+\s*\2",
    re.S,
)


def _fn_name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        f = node.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    return None


def _string(node: ast.AST) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value for v in node.values if isinstance(v, ast.Constant) and isinstance(v.value, str)
        )
    return None


def pasted_folds(path: str) -> list[int]:
    """Lines of `path` holding a hand-written sum fold over an elementwise
    array: `F.aggregate(F.zip_with|transform(...) or a name bound to one,
    ...)`, or the same fold written as a Spark SQL string."""
    tree = ast.parse(open(path, encoding="utf-8").read())
    elementwise_names = {
        t.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign) and _fn_name(n.value) in _ELEMENTWISE
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    hits = []
    for n in ast.walk(tree):
        if _fn_name(n) == "aggregate" and n.args:
            first = n.args[0]
            if _fn_name(first) in _ELEMENTWISE or (
                isinstance(first, ast.Name) and first.id in elementwise_names
            ):
                hits.append(n.lineno)
        s = _string(n)
        if s is not None and _SQL_SUM_FOLD.search(s):
            hits.append(n.lineno)
    return hits


def test_no_pasted_sum_fold_outside_vectors():
    pasted = []
    for root, _dirs, files in os.walk(_PKG):
        for name in files:
            path = os.path.join(root, name)
            if name.endswith(".py") and path != os.path.join(_PKG, "functions", "vectors.py"):
                pasted += [f"{os.path.relpath(path, _PKG)}:{n}" for n in pasted_folds(path)]
    assert not pasted, f"use functions/vectors dot / norm2 / sq_dist instead: {pasted}"
