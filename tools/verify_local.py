"""Local differential harness mimicking the driver's correctness gate.

Runs every registry query at a given scale factor, runs its DuckDB oracle
on the same parquet, and compares: row count, column names, dtypes, and
exact values (order-insensitive). Stricter than the driver (exact float
equality) so that passing here predicts passing the value-hash gate.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blockchain2graphdb_spark import registry
from blockchain2graphdb_spark.catalog import TABLES
from blockchain2graphdb_spark.session import codegen_stats, get_spark


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)

    def canon(v):
        if v is None:
            return None
        try:
            if pd.isna(v):
                return None
        except (TypeError, ValueError):
            pass  # arrays/lists
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return tuple(canon(x) for x in v)
        return v

    recs = [tuple(canon(v) for v in row) for row in df.itertuples(index=False, name=None)]
    recs.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return recs


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        problems.append(f"columns: spark={scols} oracle={ocols}")
        return problems
    s, o = normalize(sdf), normalize(odf)
    if len(s) == len(o):
        mism = [(i, a, b) for i, (a, b) in enumerate(zip(s, o)) if a != b]
        if mism:
            i, a, b = mism[0]
            problems.append(
                f"values: {len(mism)} row mismatches; first at row {i}:\n"
                f"     spark ={a!r}\n     oracle={b!r}"
            )
    return problems


def lint(sf_dir: str) -> int:
    """Driver-hasher-hazard lint (round-1 postmortem, VERDICT.md #2).

    The driver's canonicalizer sorts rows via pandas and value-hashes the
    result. Two type classes break it without any wrong answer underneath:
    list/struct/map cells are unhashable in pandas sort (agg_collect_set's
    round-1 crash), and DuckDB's HUGEINT (int128, the default type of an
    integer SUM) formats differently from Spark's bigint (tpch_q12_shape's
    round-1 hash mismatch). Statically reject both: every oracle-paired
    query must produce scalar Spark columns, and its oracle must produce
    no HUGEINT/LIST/STRUCT/MAP columns in DuckDB.
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    specs = registry.load_all()
    spark = get_spark("verify-lint")
    con = duck_con(sf_dir)
    bad = 0
    for name, spec in sorted(specs.items()):
        if spec.oracle is None:
            continue
        try:
            schema = spec.builder(spark, sf_dir).schema
        except Exception as e:
            print(f"LINT {name}: builder failed to plan: {e}")
            bad += 1
            continue
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                print(
                    f"LINT {name}: spark column {f.name!r} is "
                    f"{f.dataType.simpleString()} — unhashable for the driver"
                )
                bad += 1
        try:
            dtypes = con.sql(f"DESCRIBE ({spec.oracle})").df()
        except Exception as e:
            print(f"LINT {name}: oracle failed to plan: {e}")
            bad += 1
            continue
        for _, row in dtypes.iterrows():
            t = row["column_type"].upper()
            if "HUGEINT" in t:
                print(
                    f"LINT {name}: oracle column {row['column_name']!r} is "
                    f"{t} — cast the aggregate (e.g. AS BIGINT)"
                )
                bad += 1
            if t.endswith("[]") or t.startswith(("STRUCT", "MAP", "LIST", "UNION")):
                print(
                    f"LINT {name}: oracle column {row['column_name']!r} is "
                    f"{t} — flatten to a scalar"
                )
                bad += 1
    n = sum(1 for s in specs.values() if s.oracle is not None)
    print(f"\n== lint: {n} oracle-paired keys checked, {bad} hazards ==")
    return 1 if bad else 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--lint":
        return lint(sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    specs = registry.load_all()
    spark = get_spark("verify-local")
    con = duck_con(sf_dir)

    # Driver-materialization guard (VERDICT r14 #4): with
    # SPARK_GRAFT_MAX_RESULT set (e.g. "32m"; get_spark turned it into
    # spark.driver.maxResultSize), the harness readout must not itself
    # collect to the driver — results go executor-side to parquet and
    # come back through pyarrow. Under the cap, any failure is a
    # HIDDEN driver bottleneck inside an operator (an unbounded
    # collect/broadcast), never the size of the final answer.
    cap = os.environ.get("SPARK_GRAFT_MAX_RESULT", "")
    readout_dir = None
    if cap:
        import shutil
        import tempfile

        readout_dir = tempfile.mkdtemp(prefix="verify_readout_")

    def readout(df) -> pd.DataFrame:
        if not cap:
            return df.toPandas()
        path = os.path.join(readout_dir, "r")
        shutil.rmtree(path, ignore_errors=True)
        df.write.mode("overwrite").parquet(path)
        return pd.read_parquet(path)

    n_pass = n_fail = n_rows_only = 0
    failed = []
    # explicit CLI keys run in ARGV order (callers cost-order them —
    # e.g. the sf1 sweep runs smallest outputs first so a time cutoff
    # loses the least); the full-registry sweep stays alphabetical
    if only:
        # De-duplicate argv while preserving order (a key passed twice
        # would run twice and double-count); warn on unknown keys
        # instead of silently dropping them (ADVICE r15).
        cli_keys = list(dict.fromkeys(sys.argv[2:]))
        unknown = [k for k in cli_keys if k not in specs]
        for k in unknown:
            print(f"WARN unknown key (not in registry): {k}")
        ordered = [(k, specs[k]) for k in cli_keys if k in specs]
    else:
        ordered = sorted(specs.items())
    for name, spec in ordered:
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = readout(spec.builder(spark, sf_dir))
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            n_fail += 1
            failed.append(name)
            continue
        if spec.oracle is None:
            print(f"ROWS {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            odf = con.sql(spec.oracle).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            failed.append(name)
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print(f"   {p}")
            n_fail += 1
            failed.append(name)
        else:
            print(f"PASS {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only ==")
    if failed:
        print("failed:", " ".join(failed))
    compiles, compile_ms = codegen_stats(spark)
    print(f"codegen: {compiles} classes compiled, {compile_ms:.0f} ms", file=sys.stderr)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
