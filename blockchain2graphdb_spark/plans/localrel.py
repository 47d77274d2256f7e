"""Driver-local rows → DataFrame without the pickled-RDD tax.

`spark.createDataFrame(list_of_tuples, schema)` routes through
`parallelize` — a pickled Python RDD whose EVERY action launches
Python workers on the executors (measured: ~0.36 s warm and ~4.3 s on
the session's first Python-worker cold start, for a 4-row result; 32
tasks × worker startup). Several operators return small driver-computed
result tables (diffusion round counts, the driver union-find labels,
Markov removal effects), so that tax was paid once per bench/gate
invocation per key.

`local_rows_df` routes the same rows through the Arrow/pandas
conversion instead, which plans as a pure-JVM `LocalTableScan` —
zero tasks, zero Python workers at action time (measured ~0.09 s for
the same 4-row result; guide §6 "Arrow for driver transfers").
Schemas and values are identical: the pandas frame is built with
dtype=object so ints/strings/None reach Arrow unwidened, and the
explicit `schema` argument pins the result types exactly as before.
A conversion failure (pandas missing, an exotic schema the flat name
split or Arrow cannot take) falls back to the classic path, which is
correct, just slower, and warns once.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyarrow import ArrowException
from pyspark.sql import DataFrame, SparkSession

from .fallback import warn_once


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    rows = list(rows)
    try:
        import pandas as pd

        if isinstance(schema, str):
            # flat "name type, name type" schema strings only — nested
            # types with commas would mis-split and hit the fallback
            names = [c.strip().split()[0] for c in schema.split(",")]
        else:
            names = [f.name for f in schema.fields]
        pdf = pd.DataFrame(rows, columns=names, dtype=object)
        out = spark.createDataFrame(pdf, schema=schema)
        # cheap sanity: the conversion must not drop/append rows
        if len(pdf) != len(rows):  # pragma: no cover — defensive
            raise ValueError("row count drift in pandas conversion")
        return out
    except (ImportError, ValueError, TypeError, ArrowException, Py4JError) as e:
        warn_once("local_rows_df", f"Arrow local relation failed ({e!r}); using a pickled RDD")
        return spark.createDataFrame(rows, schema)
