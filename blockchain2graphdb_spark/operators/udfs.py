"""UDF / UDAF / UDTF surface (SURVEY.md §2.11).

The reference's only UDF-shaped code is bitcoinj decoding (script→address
B:1069 with try/catch fallback B:1067–1074). Everything here is
Arrow-vectorized (pandas_udf / applyInPandas / mapInPandas) — never
row-at-a-time Python — and the numeric paths use integer arithmetic so
results are exact and order-independent (the pandas group row order is
not deterministic under Spark).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import table
from ..registry import query


@F.pandas_udf(T.StringType())
def _norm_name(s: pd.Series) -> pd.Series:
    """Scalar pandas UDF: canonicalize a name (upper + strip)."""
    return s.str.strip().str.upper()


@query(
    "udf_scalar",
    oracle="SELECT c_custkey, UPPER(TRIM(c_name)) AS norm_name FROM customer",
)
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-batched). In production the built-in
    `F.upper(F.trim(...))` wins (JVM codegen, no Python hop); the UDF form
    exists to demonstrate the Arrow path for logic SQL can't express."""
    return table(spark, sf_dir, "customer").select(
        "c_custkey", _norm_name("c_name").alias("norm_name")
    )


@F.pandas_udf(T.IntegerType())
def _decode_source(s: pd.Series) -> pd.Series:
    """C11 analog: decode 'srcN' → N with a fallback sentinel on failure
    (B:1067–1074 ScriptException → sentinel address string)."""

    def decode(x):
        try:
            return int(x[3:])
        except (ValueError, TypeError, IndexError):
            return -1

    return s.map(decode).astype("int32")


@query(
    "udf_with_fallback",
    oracle="""
    SELECT doc_id,
           CASE WHEN regexp_matches(source, '^src\\d+$')
                THEN CAST(substr(source, 4) AS INTEGER) ELSE -1 END AS source_num
    FROM documents
    """,
)
def udf_with_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11: error-fallback decode (try/catch → sentinel, B:1067–1074)."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", _decode_source("source").alias("source_num")
    )


@query(
    "udaf_grouped",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_centi,
           MAX(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via applyInPandas (grouped map, one output row per
    group). Integer (centi-unit) accumulation keeps the result exact
    regardless of pandas' row order within the group."""

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        qty_centi = (pdf["l_quantity"] * 100).round().astype("int64").sum()
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "n": [len(pdf)],
                "qty_centi": [qty_centi],
                "max_price": [pdf["l_extendedprice"].max()],
            }
        )

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").applyInPandas(
        agg, schema="l_returnflag string, n long, qty_centi long, max_price double"
    )


@query(
    "udtf_flatmap",
    oracle="""
    SELECT doc_id, COUNT(*) AS n_long_tokens
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE length(token) > 4
    GROUP BY doc_id
    """,
)
def udtf_flatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF-ish 1→N expansion via mapInPandas (the S1 block-decoder shape:
    one input row → many output rows, B:361 BlockFileLoader). Tokenizes
    documents and counts long tokens per doc."""

    def explode_tokens(batches):
        for pdf in batches:
            toks = pdf["text"].str.split(" ")
            out = pdf[["doc_id"]].copy()
            out["n_long_tokens"] = toks.map(
                lambda ts: sum(1 for t in ts if len(t) > 4)
            ).astype("int64")
            yield out[out["n_long_tokens"] > 0]

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(explode_tokens, schema="doc_id long, n_long_tokens long")


@query(
    "udtf_lateral",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok AS token
      FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
      WHERE t.tok <> ''
    )
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks GROUP BY doc_id, token HAVING COUNT(*) >= 3
    """,
)
def udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's REAL Python UDTF surface (§2.11's third seam, beyond
    mapInPandas): a @udtf class registered and applied through a
    LATERAL join — the extensibility contract for 1-to-N row logic
    that genuinely needs imperative Python (here: per-doc frequent
    tokens, tf >= 3). Like udf_scalar this is the declared SLOW path —
    the same semantics run JVM-side in text_token_stats; what this key
    pins is that the UDTF seam (class lifecycle, lateral correlation,
    schema contract) produces results identical to the relational
    form, so a user can prototype in a UDTF and swap in the vectorized
    twin without a semantic diff. At scale the lateral UDTF
    parallelizes per partition like any generator (Arrow-optimized —
    useArrow=True — so rows cross the Python boundary in batches, the
    same policy every other Python seam follows); state lives per
    task, never on the driver."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, tf bigint", useArrow=True)
    class FrequentTokens:
        def eval(self, text: str):
            from collections import Counter

            for tok, n in sorted(
                Counter(t for t in text.split(" ") if t).items()
            ):
                if n >= 3:
                    yield tok, n

    spark.udtf.register("frequent_tokens", FrequentTokens)
    table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, f.token, f.tf
        FROM docs_udtf d, LATERAL frequent_tokens(d.text) f
        """
    )
