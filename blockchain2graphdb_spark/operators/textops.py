"""Text analysis (SURVEY.md §2.13 X4): token statistics, language-ID
heuristic, quality scoring, token counting, document fingerprinting —
the LLM-training-data operators, all built-in-function pipelines
(split/explode/regexp/md5), no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..exact import md5_int
from ..functions.ranking import bucketed_global_rank
from ..plans.iterate import observed_checkpoint
from ..plans.sizing import broadcast_hint
from ..registry import query


@query(
    "text_token_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    filtered AS (SELECT doc_id, t FROM toks WHERE t <> '')
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT t) AS n_distinct,
           CAST(SUM(length(t)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_token_len,
           CAST(COUNT(DISTINCT t) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS type_token_ratio
    FROM filtered GROUP BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: per-document token statistics (count, vocabulary, TTR)."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
    )
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("t").alias("n_distinct"),
        (F.sum(F.length("t")).cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_token_len"
        ),
        (F.countDistinct("t").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "type_token_ratio"
        ),
    )


@query(
    "text_lang_id",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    scores AS (
      SELECT doc_id,
             COUNT(CASE WHEN t IN ('the', 'a', 'of') THEN 1 END) AS s_article,
             COUNT(CASE WHEN t IN ('data', 'table', 'row', 'column') THEN 1 END) AS s_data,
             COUNT(CASE WHEN t IN ('query', 'scan', 'join', 'filter') THEN 1 END) AS s_query
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id,
           CASE WHEN s_article >= s_data AND s_article >= s_query THEN 'article-heavy'
                WHEN s_data >= s_query THEN 'data-heavy'
                ELSE 'query-heavy' END AS pred_class,
           s_article, s_data, s_query
    FROM scores
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: n-gram/marker-token language-ID heuristic.

    Scores each document against marker-token sets and picks the argmax
    with a deterministic tie order — the standard stopword-profile
    language detector. (The fixture corpus shares one vocabulary across
    its `lang` labels, so classes here are register profiles; on real
    multilingual data the marker sets are per-language stopword lists.)
    """
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    scores = toks.groupBy("doc_id").agg(
        F.count(F.when(F.col("t").isin("the", "a", "of"), 1)).alias("s_article"),
        F.count(F.when(F.col("t").isin("data", "table", "row", "column"), 1)).alias("s_data"),
        F.count(F.when(F.col("t").isin("query", "scan", "join", "filter"), 1)).alias("s_query"),
    )
    pred = (
        F.when(
            (F.col("s_article") >= F.col("s_data")) & (F.col("s_article") >= F.col("s_query")),
            "article-heavy",
        )
        .when(F.col("s_data") >= F.col("s_query"), "data-heavy")
        .otherwise("query-heavy")
    )
    return scores.select("doc_id", pred.alias("pred_class"), "s_article", "s_data", "s_query")


@query(
    "text_quality_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    stats AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             COUNT(DISTINCT t) AS n_distinct,
             COUNT(CASE WHEN t IN ('the', 'a', 'of') THEN 1 END) AS n_stop
      FROM toks WHERE t <> '' GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(s.n_distinct AS DOUBLE) / CAST(s.n_tokens AS DOUBLE) * 0.5
             + (1.0 - CAST(s.n_stop AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)) * 0.3
             + LEAST(CAST(d.n_chars AS DOUBLE) / 500.0, 1.0) * 0.2 AS quality
    FROM documents d JOIN stats s ON s.doc_id = d.doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: composite quality score — lexical diversity + stopword ratio +
    length saturation (the usual pre-training heuristic filter trio).
    Pure double arithmetic on integer counts: deterministic cross-engine.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t")).where(
        F.col("t") != ""
    )
    stats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("t").alias("n_distinct"),
        F.count(F.when(F.col("t").isin("the", "a", "of"), 1)).alias("n_stop"),
    )
    quality = (
        F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double") * 0.5
        + (F.lit(1.0) - F.col("n_stop").cast("double") / F.col("n_tokens").cast("double"))
        * 0.3
        + F.least(F.col("n_chars").cast("double") / 500.0, F.lit(1.0)) * 0.2
    )
    return docs.select("doc_id", "n_chars").join(stats, "doc_id").select(
        "doc_id", quality.alias("quality")
    )


@query(
    "token_count",
    oracle="""
    SELECT doc_id,
           CAST(length(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_word_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: BPE-ish regex token counting (word/number pieces)."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit("[a-z]+|[0-9]+")).cast("long").alias(
            "n_word_tokens"
        ),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id, md5(lower(text)) AS fingerprint FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: normalized content fingerprint (md5 over lowercased text) —
    the join key for exact dedup across shards; md5 agrees across engines
    so it is oracle-checkable, unlike xxhash64."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower(F.col("text")).cast("binary")).alias("fingerprint")
    )


@query(
    "text_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t AS term FROM (
        SELECT doc_id,
               UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS t
        FROM documents
      ) WHERE t <> ''
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf, df, score FROM (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) DESC,
                        tf.term) AS rn
      FROM tf JOIN df USING (term) CROSS JOIN n
    ) WHERE rn <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: TF-IDF top-3 terms per document.

    tf and df are exact integers from two hash aggregations; only the
    final score touches floats, and it is rounded to 6 decimals on both
    engines before ranking so the cross-engine order (and the value
    hash) is deterministic. At 100 TB: both aggs are partial+final
    combines on (doc, term) / (term); the scalar N literal-folds into
    the plan, and the (term, df) join is left unhinted — a web-scale
    raw-token vocabulary (typos, numbers) runs to billions of rows and
    is NOT broadcastable, so AQE decides at runtime from the exchange's
    measured size (it broadcasts here at test scale; past the threshold
    it stays a co-partitioned shuffle join on `term`).
    """
    from ..catalog import parquet_num_rows
    from .dedup import _fan_out

    docs = table(spark, sf_dir, "documents")
    # r16: the fixture corpus arrives as ONE parquet split, so the
    # tokenize+explode (this key's CPU) ran on one task with 31 idle —
    # and the tf subtree is referenced twice (df build + score join),
    # so that single-task stage executed TWICE (profiled: 2 x 2.4s
    # one-task stages). _fan_out (dedup.py) spreads the explode across
    # the cluster only when the scan has fewer splits than cores — at
    # real scale it is a no-op with zero added shuffle. Measured
    # 0.97 -> 0.73s at sf0.1, rows identical.
    toks = (
        _fan_out(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
        )
        .where(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # r16: exact doc count from the parquet FOOTER (catalog seam) —
    # the previous docs.count() was a full scan job per invocation for
    # a number the footer metadata already holds exactly
    n_docs = parquet_num_rows(sf_dir, "documents")
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score")
    )


@query(
    "text_clean",
    oracle="""
    SELECT doc_id,
           TRIM(REGEXP_REPLACE(
             REGEXP_REPLACE(
               REGEXP_REPLACE(text, 'https?://[^ ]+', '<URL>', 'g'),
               '[A-Za-z0-9.]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
             ' +', ' ', 'g')) AS cleaned,
           LENGTH(text) - LENGTH(TRIM(REGEXP_REPLACE(
             REGEXP_REPLACE(
               REGEXP_REPLACE(text, 'https?://[^ ]+', '<URL>', 'g'),
               '[A-Za-z0-9.]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
             ' +', ' ', 'g'))) AS removed_chars
    FROM documents
    """,
)
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: corpus cleaning — URL and e-mail scrubbing to placeholder
    tokens plus whitespace normalization, the standard pre-tokenization
    pass of a training-data pipeline. Pure JVM regexp_replace chain (one
    codegen'd projection, no shuffle); the regex subset is chosen to
    mean the same thing in Java regex and RE2 so the oracle matches
    byte-for-byte."""
    docs = table(spark, sf_dir, "documents")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), r"https?://[^ ]+", "<URL>"),
                r"[A-Za-z0-9.]+@[A-Za-z0-9.]+",
                "<EMAIL>",
            ),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        cleaned.alias("cleaned"),
        (F.length("text") - F.length(cleaned)).alias("removed_chars"),
    )


@query(
    "text_ngram_freq",
    oracle="""
    WITH toks AS (
      SELECT lang,
             list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts
      FROM documents
    ),
    bi AS (
      SELECT lang, ts[CAST(t.i AS BIGINT)] || ' ' || ts[CAST(t.i AS BIGINT) + 1] AS bigram
      FROM toks, UNNEST(range(1, len(ts))) AS t(i)
    ),
    cnt AS (SELECT lang, bigram, COUNT(*) AS n FROM bi GROUP BY 1, 2)
    SELECT lang, bigram, CAST(n AS BIGINT) AS n
    FROM (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rn
      FROM cnt
    ) WHERE rn <= 10
    """,
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: per-language top-10 bigram frequencies — the n-gram LM
    statistic under contamination sniffing and boilerplate discovery.

    Bigrams are built INSIDE the token array with a vectorized
    transform-over-slice (toks[i] + ' ' + toks[i+1]) — no window, no
    self-join; the only explode is the bigram stream feeding one
    (lang, bigram) count whose partial aggregation happens map-side.
    The top-10 cut compiles to WindowGroupLimit, so each language ships
    at most 10 candidate rows per partition past the final exchange.
    Ties at the cut break by bigram text — deterministic on both
    engines.
    """
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != F.lit("")
    )
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.slice(toks, 1, F.size(toks) - 1),
            lambda x, i: F.concat_ws(" ", x, F.element_at(toks, i + 2)),
        ),
    ).otherwise(F.array(F.lit(None).cast("string")))
    cnt = (
        table(spark, sf_dir, "documents")
        .select("lang", F.explode(bigrams).alias("bigram"))
        .where(F.col("bigram").isNotNull())
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram"))
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("lang", "bigram", F.col("n").cast("long").alias("n"))
    )


@query(
    "vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT t AS term FROM (
        SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t
        FROM documents
      ) WHERE t <> ''
    ),
    cnt AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt),
    top AS (SELECT term, n FROM cnt ORDER BY n DESC, term LIMIT 100)
    SELECT CAST(row_number() OVER (ORDER BY n DESC, term) AS BIGINT) AS rnk,
           term,
           CAST(n AS BIGINT) AS n,
           ROUND(CAST(SUM(n) OVER (ORDER BY n DESC, term
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / (SELECT total FROM tot), 6) AS cum_coverage
    FROM top
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: vocabulary coverage curve — the top-100 tokens with the
    cumulative fraction of the corpus they cover, the statistic behind
    tokenizer-vocab sizing ("how many types cover 95% of tokens?").

    Term counts aggregate map-side; the top-100 cut is orderBy+limit →
    TakeOrderedAndProject (per-partition top-k, no global sort of the
    vocabulary); rank and running coverage come from a theta-join of
    the 100 surviving rows against themselves (count/sum of
    strictly-earlier rows) — no WindowExec anywhere, not even a
    bounded single-partition one. The corpus-total token count rides
    in as a broadcast 1-row cross join, never a collect. Integer
    counts divide once into a double, ROUND(6) on both engines.
    """
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("term")
        )
    )
    cnt = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = cnt.agg(F.sum("n").alias("total"))
    top = cnt.orderBy(F.col("n").desc(), "term").limit(100)
    prev = top.select(F.col("term").alias("t2"), F.col("n").alias("n2"))
    # strictly-earlier in (n DESC, term ASC) order; keys unique per term
    before = (F.col("n2") > F.col("n")) | (
        (F.col("n2") == F.col("n")) & (F.col("t2") < F.col("term"))
    )
    ranked = (
        top.join(F.broadcast(prev), before, "left")
        .groupBy("term", "n")
        .agg(
            (F.count("t2") + 1).cast("long").alias("rnk"),
            (F.coalesce(F.sum("n2"), F.lit(0)) + F.col("n")).alias("cum_n"),
        )
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "rnk",
            "term",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("cum_n").cast("double") / F.col("total"), 6).alias(
                "cum_coverage"
            ),
        )
    )


@query(
    "text_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    postings AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE term IN ('query', 'join', 'table')
      GROUP BY term, doc_id
    ),
    scored AS (
      SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(tf) AS BIGINT) AS tf_total
      FROM postings GROUP BY doc_id
    )
    SELECT doc_id, tf_total FROM scored WHERE n_terms = 3
    ORDER BY tf_total DESC, doc_id LIMIT 20
    """,
)
def text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text keyword search — the one capability the reference's
    stack provisions but never exercises (an Elasticsearch mixed-index
    backend is configured at conf/blk-cql.properties:7-9 / pom.xml:76-79
    and no mixed index is ever created, SURVEY §1.5).

    Re-expressed as an inverted-index lookup, not a regex scan: tokenize
    -> postings (term, doc_id, tf) restricted to the query terms ->
    conjunctive (AND) match = docs hitting all |Q| terms -> rank by
    total tf, ties by doc_id, top-20 via TakeOrderedAndProject.

    The term IN (...) predicate lands BEFORE the postings aggregate, so
    the per-term shuffle carries only query-term hits — the on-the-fly
    equivalent of the partition pruning a materialized postings table
    (bucketed/partitioned by term) gives at 100 TB: query cost scales
    with the posting lists touched, never with the corpus. No window,
    no regex over the corpus; asserted in tests/test_plans.py.
    """
    terms = ("query", "join", "table")
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term").isin(*terms))
    )
    postings = toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    scored = postings.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"), F.sum("tf").cast("long").alias("tf_total")
    )
    return (
        scored.where(F.col("n_terms") == len(terms))
        .orderBy(F.col("tf_total").desc(), "doc_id")
        .limit(20)
        .select("doc_id", "tf_total")
    )


@query(
    "text_phrase_search",
    oracle="""
    WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    pos AS (SELECT doc_id, a, unnest(range(len(a))) AS i FROM arr),
    toks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS p, a[CAST(i AS INTEGER) + 1] AS term
      FROM pos
    ),
    t1 AS (SELECT doc_id, p FROM toks WHERE term = 'window'),
    t2 AS (SELECT doc_id, p - 1 AS p FROM toks WHERE term = 'join')
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM t1 JOIN t2 USING (doc_id, p)
    GROUP BY doc_id
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search ("window join") over a POSITIONAL inverted index —
    the ES match_phrase capability, as a pure equi-join: posexplode
    gives (doc_id, position, term); the phrase occurs wherever term1's
    posting list and term2's (shifted by -1) agree on (doc_id, pos).

    Generalizes to k-term phrases as k-1 further equi-joins on shifted
    positions. Each side is pre-filtered to one term before the join,
    so the shuffle moves two posting lists, not the corpus; both joins
    are keyed (doc_id, pos) — co-partitioned, broadcastable when one
    term is rare (AQE decides from the post-filter sizes).
    """
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p", "term")
    )
    t1 = toks.where(F.col("term") == "window").select(
        "doc_id", F.col("p").cast("long").alias("p")
    )
    t2 = toks.where(F.col("term") == "join").select(
        "doc_id", (F.col("p") - 1).cast("long").alias("p")
    )
    return (
        t1.join(t2, ["doc_id", "p"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )


@query(
    "text_search_bm25",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
      FROM toks WHERE term <> '' GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    postings AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE term IN ('query', 'join', 'table')
      GROUP BY term, doc_id
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term),
    contrib AS (
      SELECT p.doc_id,
             CAST(ROUND(
               ln((CAST(s.n_docs AS DOUBLE) - f.df + 0.5) / (f.df + 0.5) + 1.0)
               * (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
               * 1e9) AS BIGINT) AS nanos
      FROM postings p JOIN df f USING (term) JOIN dl d USING (doc_id)
      CROSS JOIN stats s
    ),
    scored AS (
      SELECT doc_id, CAST(SUM(nanos) AS BIGINT) AS n FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, ROUND(CAST(n AS DOUBLE) / 1e9, 6) AS bm25
    FROM scored ORDER BY n DESC, doc_id LIMIT 15
    """,
)
def text_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked (OR) full-text search with BM25 scoring (k1=1.2, b=0.75) —
    the relevance model behind the reference's provisioned-but-unused
    Elasticsearch backend (conf/blk-cql.properties:7-9), over the same
    postings machinery as `text_search`.

    Determinism: each term's BM25 contribution is a double built from
    exact-integer operands (tf, df, dl, N — identical on both engines),
    quantized to INTEGER NANOS before the per-doc sum, so the cross-term
    addition is int64 (order-independent) and the final score divides
    once — no float accumulation order anywhere. Ranked by the integer
    nanos (ties by doc_id), top-15 via TakeOrderedAndProject.

    Scale: postings/df/dl are the standard search-index side tables; df
    is |query terms| rows (broadcast), dl is doc-keyed (co-partitioned
    with postings on doc_id), stats is one broadcast row. Query cost
    tracks posting-list sizes, never corpus size.
    """
    terms = ("query", "join", "table")
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    dl = (
        toks.where(F.col("term") != "")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("dl"))
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    postings = (
        toks.where(F.col("term").isin(*terms))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_tbl = postings.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        + 1.0
    )
    satu = (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    contrib = (
        postings.join(F.broadcast(df_tbl), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id", F.round(idf * satu * F.lit(1e9)).cast("long").alias("nanos")
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.sum("nanos").cast("long").alias("n"))
    return (
        scored.orderBy(F.col("n").desc(), "doc_id")
        .limit(15)
        .select(
            "doc_id", F.round(F.col("n").cast("double") / 1e9, 6).alias("bm25")
        )
    )


@query(
    "text_pii_mask",
    oracle=r"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                  || CASE WHEN doc_id % 5 = 0
                          THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@corp.net' ELSE '' END
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          ELSE '' END AS t
      FROM documents WHERE doc_id < 300
    ),
    masked AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.]+')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
             regexp_replace(regexp_replace(t, '[a-z0-9._]+@[a-z0-9.]+', '[EMAIL]', 'g'),
                            '555-[0-9]{4}', '[PHONE]', 'g') AS m
      FROM seeded
    )
    SELECT doc_id, n_emails, n_phones,
           CAST(LENGTH(m) AS BIGINT) AS masked_len, md5(m) AS masked_fp
    FROM masked
    """,
)
def text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4-family pipeline stage the public corpus pipelines (C4, Dolma,
    RefinedWeb) all run and the registry lacked: PII scrubbing — detect
    and mask email/phone spans before training. The fixture corpus has
    no PII, so the key seeds deterministic spans per doc (one email
    always, a second at doc_id%5==0, a phone at doc_id%3==0) and masks
    them back out; the oracle replays detection, counting, and the
    masked text byte-for-byte (md5 fingerprint).

    Regex subset chosen to mean the same thing in Java regex and RE2
    (char classes + bounded repetition only — no lookarounds, no \\d
    shorthand whose Unicode semantics differ). At 100 TB this is a
    map-side-only stage: no shuffle, no UDF — regexp_replace and
    regexp_extract_all are JVM-side codegen'd expressions.
    """
    email_re = "[a-z0-9._]+@[a-z0-9.]+"
    phone_re = "555-[0-9]{4}"
    seeded = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
                F.when(
                    F.col("doc_id") % 5 == 0,
                    F.concat(
                        F.lit(" cc admin"),
                        F.col("doc_id").cast("string"),
                        F.lit("@corp.net"),
                    ),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.concat(
                        F.lit(" or call 555-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                    ),
                ).otherwise(F.lit("")),
            ).alias("t"),
        )
    )
    masked = F.regexp_replace(
        F.regexp_replace(F.col("t"), email_re, "[EMAIL]"), phone_re, "[PHONE]"
    )
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(email_re), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(phone_re), 0)).cast("long").alias("n_phones"),
        F.length(masked).cast("long").alias("masked_len"),
        F.md5(masked.cast("binary")).alias("masked_fp"),
    )


# BPE pair statistics: the inner loop of a byte-pair-encoding tokenizer
# trainer is "count adjacent symbol pairs across the corpus, weighted by
# word frequency, take the most frequent". One round of that count is a
# pure exact-integer aggregation and the natural Spark form of
# tokenizer training at 100 TB.
_BPE_TOPK = 20

_BPE_ORACLE = f"""
WITH toks AS MATERIALIZED (
  SELECT lower(unnest(string_split(text, ' '))) AS w FROM documents
),
freq AS MATERIALIZED (
  SELECT w, COUNT(*) AS f FROM toks WHERE w <> '' GROUP BY w
),
pairs AS (
  SELECT substr(w, CAST(t.i AS INT) + 1, 2) AS pair, f
  FROM freq, UNNEST(range(length(w) - 1)) AS t(i)
)
SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT {_BPE_TOPK}
"""


@query("bpe_merge_pairs", oracle=_BPE_ORACLE)
def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 tokenizer-training primitive: the first BPE merge-candidate
    table — adjacent character-pair counts over the corpus, weighted by
    word frequency, top-{k} with a deterministic (count desc, pair asc)
    order.

    Scale shape: the classic BPE-trainer optimization falls out of the
    relational form — pair extraction runs over the DISTINCT-WORD table
    (one shuffle keyed on the word, carrying counts), not the raw token
    stream, so a 100 TB corpus with a ~10M-type vocabulary explodes
    character pairs from millions of rows, not trillions; the pair
    rollup is a second keyed agg over 2-char keys and the top-k is
    TakeOrderedAndProject, never a global sort.
    """
    freq = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    pairs = freq.select(
        F.explode(
            F.expr(
                "CASE WHEN length(w) >= 2 THEN transform("
                "  sequence(1, length(w) - 1), i -> substring(w, i, 2))"
                " ELSE array() END"
            )
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(_BPE_TOPK)
    )


bpe_merge_pairs.__doc__ = bpe_merge_pairs.__doc__.format(k=_BPE_TOPK)


@query(
    "text_surprisal",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    f AS (SELECT doc_id, t FROM toks WHERE t <> ''),
    cnts AS (SELECT t, COUNT(*) AS c FROM f GROUP BY t),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnts),
    contrib AS (
      SELECT f.doc_id,
             CAST(ROUND(ln(CAST(tot.n AS DOUBLE) / CAST(c.c AS DOUBLE)) * 1e9)
                  AS BIGINT) AS nanos
      FROM f JOIN cnts c ON c.t = f.t, tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(nanos) AS BIGINT) AS surprisal_nanos,
           CAST(SUM(nanos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e9
             AS avg_surprisal
    FROM contrib GROUP BY doc_id
    """,
)
def text_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 quality scoring via a corpus unigram language model: per-doc
    total and mean surprisal -ln p(t) with p(t) = count(t)/N over the
    whole corpus — the perplexity-style filter (boilerplate scores low,
    rare-token noise scores high) used to rank training documents.
    Per-token contributions are quantized to integer nanos BEFORE the
    per-doc sum (the text_search_bm25 technique), so the aggregate is
    an order-independent int64 sum and bit-identical across engines;
    the mean is one double division of identical ints at the end.

    Scale shape: tokenization is a builtin split/explode (no Python);
    the unigram table is a (token, count) aggregate — vocabulary-sized,
    so the scoring join broadcasts it when small and hash-joins on the
    token key otherwise; the corpus total is a 1-row aggregate
    cross-joined in (broadcast by construction). Nothing is ever
    pairwise and the raw corpus is scanned exactly twice (count pass,
    score pass)."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
    )
    # materialize the vocabulary-sized count table once: tot derives
    # from it AND the scoring join probes it — without the checkpoint
    # the plan re-tokenizes and re-aggregates the full corpus for each
    # consumer (3 scans, verified with .explain; the hypertable_rollup
    # pattern). The vocabulary size rides the checkpoint job.
    cnts, n_vocab = observed_checkpoint(
        toks.groupBy("t").agg(F.count(F.lit(1)).alias("c")), F.count(F.lit(1))
    )
    tot = cnts.agg(F.sum("c").cast("long").alias("n"))
    # checkpointed plans lose size stats, so gate the vocab broadcast
    # explicitly; past the gate the scoring join shuffles on the token
    hint = broadcast_hint(spark, n_vocab, cnts.schema)
    contrib = (
        toks.join(hint(cnts), "t")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                F.log(F.col("n").cast("double") / F.col("c").cast("double")) * 1e9
            )
            .cast("long")
            .alias("nanos"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("nanos").cast("long").alias("surprisal_nanos"),
        (
            F.sum("nanos").cast("double") / F.count(F.lit(1)).cast("double") / F.lit(1e9)
        ).alias("avg_surprisal"),
    )


@query(
    "tokenize_to_ids",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.i AS pos, l[CAST(t.i AS INT) + 1] AS t
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           UNNEST(range(len(l))) AS t(i)
    ),
    f AS (SELECT doc_id, pos, t FROM toks WHERE t <> ''),
    vocab AS (
      SELECT t, row_number() OVER (ORDER BY COUNT(*) DESC, t ASC) AS id
      FROM f GROUP BY t
      ORDER BY COUNT(*) DESC, t ASC LIMIT 64
    )
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(CASE WHEN v.id IS NULL THEN 1 END) AS BIGINT) AS n_oov,
           CAST(SUM((f.pos + 1) * COALESCE(v.id, 0)) AS BIGINT) AS id_checksum
    FROM f LEFT JOIN vocab v ON v.t = f.t
    GROUP BY f.doc_id
    """,
)
def tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 tokenizer-apply stage: build a 64-entry vocabulary (top tokens
    by frequency, deterministic (count DESC, token ASC) ranking — the
    vocab_coverage cut) and encode every document as id sequences with
    OOV = 0 — the map-tokens-to-ids pass every training pipeline runs
    after tokenizer training (bpe_merge_pairs is the trainer's inner
    loop; this is the apply side). Because array outputs can't be
    value-hashed, the encoded sequence is audited as exact integers:
    token count, OOV count, and the position-weighted id checksum
    Σ (pos+1)·id — any id or position drift changes it.

    Scale shape: the vocabulary is a TakeOrdered top-64 broadcast into
    the encoding join (at real vocab sizes, a hash join on the token
    key); positions come from posexplode (original array positions on
    BOTH engines, so empty-token filtering cannot desync them); one
    shuffle to the per-doc aggregate."""
    # materialize the tokenization once: the vocab aggregate AND the
    # encoding join both consume it (the rolling_dau / hypertable
    # single-scan discipline)
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "t"))
        .where(F.col("t") != "")
        .localCheckpoint(eager=True)
    )
    vocab = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("t").asc())
        .limit(64)
        .select(
            "t",
            F.row_number()
            .over(W.orderBy(F.col("cnt").desc(), F.col("t").asc()))
            .cast("long")
            .alias("id"),
        )
    )
    enc = toks.join(F.broadcast(vocab), "t", "left")
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(F.col("id").isNull(), 1)).alias("n_oov"),
        F.sum((F.col("pos") + 1) * F.coalesce(F.col("id"), F.lit(0)))
        .cast("long")
        .alias("id_checksum"),
    )


@query(
    "skipgram_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.i AS pos, l[CAST(t.i AS INT) + 1] AS t
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
           UNNEST(range(len(l))) AS t(i)
    ),
    f AS (SELECT doc_id, pos, t FROM toks WHERE t <> ''),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_total FROM f),
    uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY t),
    ctx AS (
      SELECT doc_id, pos - k.i - 1 AS pos, t AS b
      FROM f, UNNEST(range(2)) AS k(i)
    ),
    pairs AS (
      SELECT LEAST(f.t, c.b) AS a, GREATEST(f.t, c.b) AS b,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM f JOIN ctx c ON c.doc_id = f.doc_id AND c.pos = f.pos
      WHERE f.t <> c.b
      GROUP BY LEAST(f.t, c.b), GREATEST(f.t, c.b)
    ),
    ptot AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS p_total FROM pairs)
    SELECT a, b, c_ab,
           ua.c AS c_a, ub.c AS c_b,
           CAST(ROUND(ln(CAST(c_ab AS DOUBLE) * t_total * t_total
                         / (CAST(p_total AS DOUBLE) * ua.c * ub.c)) * 1e9)
                AS BIGINT) AS pmi_nanos
    FROM pairs
    JOIN uni ua ON ua.t = a
    JOIN uni ub ON ub.t = b, tot, ptot
    ORDER BY c_ab DESC, a, b LIMIT 100
    """,
)
def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 skip-gram extraction: unordered token co-occurrence pairs
    within a +/-2 window over the lowercased corpus, with counts and
    PMI — the word2vec/GloVe training-pair generator and the
    collocation detector behind phrase mining. Window pairs come from
    a MAP-SIDE offset expansion (each token emits its position minus
    1 and minus 2 as CONTEXT KEYS — 2 key rows per token, no payload
    fan-out) equi-joined back on (doc_id, pos): forward-only
    generation so each unordered pair is produced exactly once per
    occurrence, canonicalized (least, greatest). PMI = ln(p(a,b) /
    (p(a) p(b))) evaluated as one double expression over exact
    integer counts and quantized to int nanos (the BM25/surprisal ln
    parity precedent). Self-pairs ("the the") are excluded. Top-100
    by (count DESC, a, b) — a TakeOrdered, never a global sort.

    Scale shape: tokenization and offset expansion are builtin
    split/explode (no Python); the pair join is keyed (doc_id, pos) —
    co-partitioned equi-join, never a per-document cross join; pair
    and unigram aggregates are map-side combinable; the two unigram
    probes join against the O(vocab) count table."""
    from .dedup import _fan_out

    # r16: fan the single-split fixture scan across the cluster before
    # the tokenize+posexplode (profiled: a 1.5s ONE-task checkpoint
    # stage with 31 cores idle); no-op at real scale (see _fan_out)
    toks = (
        _fan_out(
            table(spark, sf_dir, "documents").select("doc_id", "text"),
            "doc_id",
        )
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "t"),
        )
        .where(F.col("t") != "")
        .localCheckpoint(eager=True)
    )
    t_total = toks.count()
    uni = toks.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ctx = (
        toks.withColumn("k", F.explode(F.array(F.lit(1), F.lit(2))))
        .select(
            "doc_id",
            (F.col("pos") - F.col("k")).alias("pos"),
            F.col("t").alias("b"),
        )
    )
    pairs = (
        toks.join(ctx, ["doc_id", "pos"])
        .where(F.col("t") != F.col("b"))
        .select(
            F.least("t", "b").alias("a"), F.greatest("t", "b").alias("bb")
        )
        .groupBy("a", "bb")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .localCheckpoint(eager=True)
    )
    p_total = pairs.agg(F.sum("c_ab")).collect()[0][0]
    pmi = F.round(
        F.log(
            F.col("c_ab").cast("double")
            * F.lit(float(t_total))
            * F.lit(float(t_total))
            / (F.lit(float(p_total)) * F.col("c_a") * F.col("c_b"))
        )
        * 1e9
    ).cast("long")
    return (
        pairs.join(F.broadcast(uni.withColumnRenamed("t", "a")
                               .withColumnRenamed("c", "c_a")), "a")
        .join(
            F.broadcast(
                uni.withColumnRenamed("t", "bb").withColumnRenamed("c", "c_b")
            ),
            "bb",
        )
        .select(
            "a",
            F.col("bb").alias("b"),
            "c_ab",
            "c_a",
            "c_b",
            pmi.alias("pmi_nanos"),
        )
        .orderBy(F.col("c_ab").desc(), "a", "b")
        .limit(100)
    )


@query(
    "text_readability",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             GREATEST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                      x -> x <> '')), 1) AS n_words,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
             GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS n_syllables
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CAST(ROUND((206.835
                       - 1.015 * n_words / n_sentences
                       - 84.6 * n_syllables / n_words) * 1e6) AS BIGINT)
             AS flesch_micros
    FROM c
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 quality signal: Flesch reading-ease per document from three
    exact integer counts — words (the text_lang_id tokenizer's
    non-empty [a-z]+ runs), sentences ([.!?]+ runs), and a syllable
    PROXY (vowel-group runs [aeiouy]+, the standard cheap estimator) —
    the readability band filter corpus curation applies next to
    text_quality_score's length/punct ratios. The score is one double
    expression over the three exact counts (each floored to 1 so
    degenerate docs can't divide by zero), int-MICROS quantized; both
    engines count runs with the same simple character-class regexes
    (no engine-specific regex feature surface).

    Scale shape: pure map-side projection — three regexp counts per
    row, no shuffle at all; pushdown keeps only (doc_id, text) in the
    scan."""
    words = F.greatest(
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != F.lit("")
            )
        ).cast("long"),
        F.lit(1).cast("long"),
    )
    sents = F.greatest(
        F.regexp_count(F.col("text"), F.lit("[.!?]+")).cast("long"),
        F.lit(1).cast("long"),
    )
    syls = F.greatest(
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")).cast("long"),
        F.lit(1).cast("long"),
    )
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syls.alias("n_syllables"),
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * F.col("n_words") / F.col("n_sentences")
        - F.lit(84.6) * F.col("n_syllables") / F.col("n_words")
    )
    return d.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(score * 1e6).cast("long").alias("flesch_micros"),
    )


@query(
    "zipf_fit",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t
      FROM documents
    ),
    tf AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS f
      FROM toks WHERE t <> '' GROUP BY t
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
             CAST(SUM(f) AS BIGINT) AS total_tokens
      FROM tf
    ),
    ranked AS (
      SELECT t, f, row_number() OVER (ORDER BY f DESC, t ASC) AS r FROM tf
    ),
    head AS (
      SELECT CAST(ROUND(ln(CAST(r AS DOUBLE)) * 1e9) AS BIGINT) AS xn,
             CAST(ROUND(ln(CAST(f AS DOUBLE)) * 1e9) AS BIGINT) AS yn,
             CAST(ROUND(ln(CAST(r AS DOUBLE)) * ln(CAST(f AS DOUBLE)) * 1e9)
                  AS BIGINT) AS xyn,
             CAST(ROUND(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)) * 1e9)
                  AS BIGINT) AS xxn,
             CAST(ROUND(ln(CAST(f AS DOUBLE)) * ln(CAST(f AS DOUBLE)) * 1e9)
                  AS BIGINT) AS yyn
      FROM ranked WHERE r <= 1000
    ),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS k,
             CAST(SUM(CAST(xn AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(yn AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(xyn AS HUGEINT)) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(xxn AS HUGEINT)) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(yyn AS HUGEINT)) AS HUGEINT) AS syy
      FROM head
    )
    SELECT tot.vocab_size, tot.total_tokens,
           CAST(s.k AS BIGINT) AS n_ranks,
           CAST(ROUND(CAST(s.k * s.sxy * 1000000000 - s.sx * s.sy AS DOUBLE)
                      / CAST(s.k * s.sxx * 1000000000 - s.sx * s.sx AS DOUBLE)
                      * 1e6) AS BIGINT) AS slope_micros,
           CAST(ROUND(POWER(CAST(s.k * s.sxy * 1000000000 - s.sx * s.sy
                                 AS DOUBLE)
                            / sqrt(CAST(s.k * s.sxx * 1000000000 - s.sx * s.sx
                                        AS DOUBLE))
                            / sqrt(CAST(s.k * s.syy * 1000000000 - s.sy * s.sy
                                        AS DOUBLE)), 2) * 1e6)
                AS BIGINT) AS r2_micros
    FROM s, tot
    """,
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 corpus-law diagnostic: fit ln(freq) = a + slope * ln(rank)
    over the top-1000 vocabulary ranks — the Zipf exponent (healthy
    natural-language corpora sit near -1; templated/synthetic spam
    skews shallower), with r-squared as the fit-quality readout. Ranks
    come from the bucketed two-pass global rank (log2-frequency-band
    buckets — monotone with the (freq DESC, term ASC) order); each
    term's ln terms and their products are quantized to int nanos
    BEFORE summation (the BM25/surprisal ln-parity precedent), the
    n*Sxy - Sx*Sy cancellations happen in exact HUGEINT/DECIMAL(38,0)
    arithmetic (corr_pairs discipline), and slope/r2 are final double
    ratios of identical exact integers, int-micros quantized.

    Scale shape: tokenize/count is one map-side-combinable aggregate
    over the scan; ranking the O(vocab) frequency table is the
    two-pass bucketed rank (no unpartitioned window); the regression
    is one single-row reduce over <= 1000 rows."""
    d38 = "decimal(38,0)"
    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("t"))
        .where(F.col("t") != "")
    )
    tf = toks.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("f"))
    tot = tf.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("f").cast("long").alias("total_tokens"),
    )
    # log2-band bucket: higher freq => higher band => negated ascends
    # with the (f DESC, t ASC) sort order (non-strict is allowed)
    ranked = bucketed_global_rank(
        tf, F.expr("-(length(bin(f)) - 1)"), [F.col("f").desc(), F.col("t").asc()]
    ).where(F.col("pos") <= 1000)
    lnr = F.log(F.col("pos").cast("double"))
    lnf = F.log(F.col("f").cast("double"))
    head = ranked.select(
        F.round(lnr * 1e9).cast("long").alias("xn"),
        F.round(lnf * 1e9).cast("long").alias("yn"),
        F.round(lnr * lnf * 1e9).cast("long").alias("xyn"),
        F.round(lnr * lnr * 1e9).cast("long").alias("xxn"),
        F.round(lnf * lnf * 1e9).cast("long").alias("yyn"),
    )
    s = head.agg(
        F.count(F.lit(1)).cast(d38).alias("k"),
        F.sum(F.col("xn").cast(d38)).cast(d38).alias("sx"),
        F.sum(F.col("yn").cast(d38)).cast(d38).alias("sy"),
        F.sum(F.col("xyn").cast(d38)).cast(d38).alias("sxy"),
        F.sum(F.col("xxn").cast(d38)).cast(d38).alias("sxx"),
        F.sum(F.col("yyn").cast(d38)).cast(d38).alias("syy"),
    )
    k, sx, sy = F.col("k"), F.col("sx"), F.col("sy")
    e9 = F.lit(1_000_000_000).cast(d38)
    num = (k * F.col("sxy") * e9 - sx * sy).cast("double")
    denx = (k * F.col("sxx") * e9 - sx * sx).cast("double")
    deny = (k * F.col("syy") * e9 - sy * sy).cast("double")
    corr = num / F.sqrt(denx) / F.sqrt(deny)
    return s.crossJoin(F.broadcast(tot)).select(
        "vocab_size",
        "total_tokens",
        k.cast("long").alias("n_ranks"),
        F.round(num / denx * 1e6).cast("long").alias("slope_micros"),
        F.round(F.pow(corr, F.lit(2)) * 1e6).cast("long").alias("r2_micros"),
    )


_HILL_K = 128


@query(
    "doc_length_tail_index",
    oracle=f"""
    WITH ranked AS (
      SELECT n_chars,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS pos
      FROM documents
      ORDER BY n_chars DESC, doc_id LIMIT {_HILL_K + 1}
    ),
    ref AS (SELECT n_chars AS ref_len FROM ranked WHERE pos = {_HILL_K + 1}),
    s AS (
      SELECT CAST(SUM(CAST(ROUND((ln(CAST(ranked.n_chars AS DOUBLE))
                                  - ln(CAST(ref.ref_len AS DOUBLE))) * 1e9)
                           AS BIGINT)) AS BIGINT) AS hill_sum
      FROM ranked, ref WHERE ranked.pos <= {_HILL_K}
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           ref.ref_len,
           CAST(s.hill_sum // {_HILL_K} AS BIGINT) AS hill_nanos,
           CAST(ROUND(1e15 / (s.hill_sum // {_HILL_K})) AS BIGINT) AS alpha_micros
    FROM s, ref
    """,
)
def doc_length_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimate of the document-length distribution:
    over the k = 128 longest documents (ties broken by doc_id), H =
    (1/k) * sum ln(len_i / len_(k+1)) and the tail exponent alpha = 1/H
    — the heavy-tail diagnostic a pretraining pipeline runs before
    picking truncation/packing lengths (alpha <= 2 means unbounded
    variance: a handful of giant documents dominate token mass). Each
    ln term is int-nanos quantized BEFORE summation (the BM25/surprisal
    cross-engine rule); H is an exact integer division; alpha is one
    final double ratio, int-micros quantized.

    Scale shape (100 TB): the only data-wide work is TakeOrdered(k+1)
    — per-partition top-k then a k-row driver merge, no global sort,
    no shuffle of the corpus. Everything downstream is over k+1 rows
    (bounded below the Limit — the declared sweep-exempt shape)."""
    top = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), "doc_id")
        .limit(_HILL_K + 1)
    )
    ranked = top.withColumn(
        "pos", F.row_number().over(W.orderBy(F.desc("n_chars"), "doc_id")).cast("long")
    )
    ref = ranked.where(F.col("pos") == _HILL_K + 1).select(
        F.col("n_chars").alias("ref_len")
    )
    terms = (
        ranked.where(F.col("pos") <= _HILL_K)
        .crossJoin(F.broadcast(ref))
        .select(
            "ref_len",
            F.round(
                (
                    F.log(F.col("n_chars").cast("double"))
                    - F.log(F.col("ref_len").cast("double"))
                )
                * 1e9
            )
            .cast("long")
            .alias("t"),
        )
    )
    return terms.agg(
        F.lit(_HILL_K).cast("long").alias("k"),
        F.max("ref_len").alias("ref_len"),
        F.expr(f"sum(t) div {_HILL_K}").cast("long").alias("hill_nanos"),
        F.round(1e15 / F.expr(f"sum(t) div {_HILL_K}")).cast("long").alias("alpha_micros"),
    )


@query(
    "vocab_chao1_richness",
    oracle="""
    WITH t AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY tok),
    s AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS d_distinct,
             CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM c
    )
    SELECT n_tokens, d_distinct, f1, f2,
           CAST(d_distinct * 1000000
                + (CAST(f1 AS HUGEINT) * (f1 - 1) * 1000000) // (2 * (f2 + 1))
                AS BIGINT) AS chao1_micros,
           CAST((CAST(f1 AS HUGEINT) * 1000000000) // n_tokens AS BIGINT)
             AS unseen_mass_nanos
    FROM s
    """,
)
def vocab_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate + Good-Turing unseen mass
    over the corpus token stream (text_token_stats tokenization): from
    the frequency-of-frequencies f1 (hapaxes) and f2 (dis legomena),
    chao1 = D + f1(f1-1)/(2(f2+1)) estimates how many types exist
    BEYOND the sample (the bias-corrected form, total when f2 = 0) and
    P0 = f1/N the probability mass of never-seen tokens — the pair a
    tokenizer-training pipeline reads to decide whether the corpus
    sample is big enough to freeze a vocabulary. Both estimators are
    exact integer arithmetic (div truncation identical across engines),
    micro/nano quantized.

    Scale shape (100 TB): explode -> ONE token-keyed count aggregate
    (map-side combinable) -> one 4-counter reduction to a single row.
    The frequency table is the same shape text_tfidf already shuffles;
    nothing is per-document or pairwise."""
    c = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    s = c.agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("d_distinct"),
        F.count_if(F.col("n") == 1).cast("long").alias("f1"),
        F.count_if(F.col("n") == 2).cast("long").alias("f2"),
    )
    return s.select(
        "n_tokens",
        "d_distinct",
        "f1",
        "f2",
        (
            F.col("d_distinct") * 1000000
            + F.expr(
                "(cast(f1 as decimal(38,0)) * (f1 - 1) * 1000000) div (2 * (f2 + 1))"
            )
        )
        .cast("long")
        .alias("chao1_micros"),
        F.expr("(cast(f1 as decimal(38,0)) * 1000000000) div n_tokens")
        .cast("long")
        .alias("unseen_mass_nanos"),
    )


@query(
    "corpus_js_divergence",
    oracle="""
    WITH t AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    st AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS a
           FROM t GROUP BY source, tok),
    ct AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS b FROM t GROUP BY tok),
    tots AS (SELECT source, CAST(SUM(a) AS BIGINT) AS aa FROM st GROUP BY source),
    big AS (SELECT CAST(COUNT(*) AS BIGINT) AS bb FROM t),
    terms AS (
      SELECT st.source,
             CAST(ROUND(CAST(st.a AS DOUBLE) / tots.aa
                        * ln(2.0 * st.a * big.bb
                             / (CAST(st.a AS HUGEINT) * big.bb
                                + CAST(ct.b AS HUGEINT) * tots.aa))
                        * 1e9) AS BIGINT)
             + CAST(ROUND(CAST(ct.b AS DOUBLE) / big.bb
                          * ln(2.0 * ct.b * tots.aa
                               / (CAST(st.a AS HUGEINT) * big.bb
                                  + CAST(ct.b AS HUGEINT) * tots.aa))
                          * 1e9) AS BIGINT) AS term,
             ct.b AS b
      FROM st
      JOIN ct ON ct.tok = st.tok
      JOIN tots ON tots.source = st.source
      CROSS JOIN big
    )
    SELECT terms.source,
           tots.aa AS n_tokens_src,
           CAST((SUM(term)
                 + CAST(ROUND(ln(2.0) * (big.bb - SUM(b)) / big.bb * 1e9)
                        AS BIGINT)) // 2 AS BIGINT) AS js_nanos
    FROM terms
    JOIN tots ON tots.source = terms.source
    CROSS JOIN big
    GROUP BY terms.source, tots.aa, big.bb
    """,
)
def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's token distribution
    against the whole-corpus mixture — the per-source "how different is
    this slice" readout a corpus-mixing pipeline ranks sources by
    (split_drift_psi compares two scalar splits; this compares full
    unigram distributions, bounded in [0, ln 2]). Per shared token the
    two KL terms p*ln(2p/(p+q)) and q*ln(2q/(p+q)) are computed with
    the ratios cleared to exact integers inside the ln (2aB/(aB+bA)),
    int-nanos quantized PER TERM before summation (the BM25/surprisal
    ln rule); tokens the source never emits contribute q*ln2 in closed
    form (their p-side is exactly 0), folded in as ONE remainder term
    ln2*(B - sum_in_source b)/B — no anti-join needed.

    Scale shape (100 TB): two token-keyed hash aggregates (per-source
    and corpus-wide) and one (tok)-keyed equi-join between them — the
    text_tfidf join shape, AQE-broadcast at small scale, sort-merge at
    web scale; per-source reduction is map-side combinable onto
    O(#sources) keys."""
    t = table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    st = t.groupBy("source", "tok").agg(F.count(F.lit(1)).cast("long").alias("a"))
    ct = t.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("b"))
    tots = st.groupBy("source").agg(F.sum("a").cast("long").alias("aa"))
    big = t.agg(F.count(F.lit(1)).cast("long").alias("bb"))
    den = (
        F.col("a").cast("decimal(38,0)") * F.col("bb")
        + F.col("b").cast("decimal(38,0)") * F.col("aa")
    ).cast("double")
    tp = F.round(
        F.col("a").cast("double")
        / F.col("aa")
        * F.log(2.0 * F.col("a") * F.col("bb") / den)
        * 1e9
    ).cast("long")
    tq = F.round(
        F.col("b").cast("double")
        / F.col("bb")
        * F.log(2.0 * F.col("b") * F.col("aa") / den)
        * 1e9
    ).cast("long")
    terms = (
        st.join(ct, "tok")
        .join(F.broadcast(tots), "source")
        .crossJoin(F.broadcast(big))
        .select("source", "aa", "bb", (tp + tq).alias("term"), "b")
    )
    rest = F.round(
        F.log(F.lit(2.0))
        * (F.col("bb") - F.col("sb")).cast("double")
        / F.col("bb")
        * 1e9
    ).cast("long")
    return (
        terms.groupBy("source", "aa", "bb")
        .agg(F.sum("term").cast("long").alias("st_"), F.sum("b").cast("long").alias("sb"))
        .select(
            "source",
            F.col("aa").alias("n_tokens_src"),
            ((F.col("st_") + rest) / 2).cast("long").alias("js_nanos"),
        )
    )


@query(
    "text_hashing_vectorizer",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t AS term FROM (
        SELECT doc_id,
               UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS t
        FROM documents
      ) WHERE t <> ''
    )
    SELECT doc_id,
           CAST(('0x' || substr(md5(term), 1, 8))::BIGINT % 32 AS BIGINT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms
    FROM toks GROUP BY 1, 2
    """,
)
def text_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: the HASHING-TRICK document vectorizer (sklearn's
    HashingVectorizer / Vowpal Wabbit's feature hashing applied to
    tokens) — each document becomes a sparse 32-bucket count vector
    keyed by the md5 of the token, the open-vocabulary featurizer
    that needs NO fitted vocabulary and therefore no global pass:
    new terms at inference time land in a bucket deterministically.
    The per-bucket distinct-term count (n_terms) surfaces collision
    pressure, the diagnostic that sizes the hash width (the
    categorical sibling is `feature_hashing`, mlprep.py).

    Scale shape (100 TB): tokenize-explode is map-side; ONE hash
    aggregate onto (doc, bucket) keys — partial+final combinable, the
    sparse-vector rows never wider than min(#tokens, 32) per doc.
    Portable md5 bucketing makes the vector engine-independent (the
    split_assign discipline), unlike JVM-hash featurizers."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
        )
        .where(F.col("term") != "")
    )
    bucket = md5_int(F.col("term")) % 32
    return toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.count_distinct("term").cast("long").alias("n_terms"),
    )


_RAKE_STOPS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")


def _rake_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOPS)
    return f"""
    WITH toks0 AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
    ),
    toks AS (
      SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
             regexp_replace(ts[CAST(t.i AS INT) + 1], '[^a-z]', '', 'g') AS tok
      FROM toks0, UNNEST(range(len(ts))) AS t(i)
    ),
    marked AS (
      SELECT doc_id, pos, tok,
             CASE WHEN tok IN ({stops}) OR tok = '' THEN 1 ELSE 0 END AS stop
      FROM toks
    ),
    segmented AS (
      SELECT doc_id, pos, tok, stop,
             SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS ph
      FROM marked
    ),
    content AS (
      SELECT doc_id, ph, pos, tok FROM segmented WHERE stop = 0
    ),
    plen AS (
      SELECT doc_id, ph, CAST(COUNT(*) AS BIGINT) AS plen
      FROM content GROUP BY doc_id, ph
    ),
    wstat AS (
      SELECT c.tok,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(p.plen) AS BIGINT) AS deg
      FROM content c JOIN plen p ON p.doc_id = c.doc_id AND p.ph = c.ph
      GROUP BY c.tok
    ),
    wscore AS (
      SELECT tok, (deg * 1000000000) // freq AS w_nanos FROM wstat
    ),
    phrases AS (
      SELECT c.doc_id, c.ph,
             string_agg(c.tok, ' ' ORDER BY c.pos) AS phrase,
             CAST(SUM(w.w_nanos) AS BIGINT) AS score_nanos,
             CAST(COUNT(*) AS BIGINT) AS n_words
      FROM content c JOIN wscore w ON w.tok = c.tok
      GROUP BY c.doc_id, c.ph
      HAVING COUNT(*) >= 2
    )
    SELECT phrase,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MAX(score_nanos) AS BIGINT) AS score_nanos,
           CAST(MAX(n_words) AS BIGINT) AS n_words
    FROM phrases
    GROUP BY phrase
    ORDER BY score_nanos DESC, phrase LIMIT 20
    """


@query("text_rake_keywords", oracle=_rake_oracle())
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus — the
    unsupervised keyphrase miner between tf-idf (single terms) and the
    BM25 search index: stopwords and punctuation SEGMENT each document
    into candidate phrases (maximal content-token runs), each word is
    scored degree/frequency (degree = Σ over its occurrences of the
    containing phrase's length — words that live in long phrases score
    higher), and a phrase scores the sum of its words. Scores stay
    exact: w_nanos = floor(deg·1e9/freq) per word, phrase score an
    integer sum of those — identical floor placement on both engines.
    Multi-word phrases only (HAVING >= 2: RAKE's single-word output is
    dominated by raw frequency, which tf-idf already covers); identical
    phrases aggregate across the corpus (same words → identical score,
    so MAX == the value); top-20 by (score, phrase).

    Scale shape (100 TB): tokenize+segment is one doc-partitioned
    window over the exploded positions (the running stopword count
    turns segmentation into a prefix sum — no UDF, no regex phrase
    matcher); word stats are two hash aggregates; the phrase fold is
    one (doc, phrase-id)-keyed aggregate; the final cut a TakeOrdered.
    Nothing pairwise, no unpartitioned windows."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "raw"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.regexp_replace("raw", "[^a-z]", "").alias("tok"),
        )
    )
    marked = toks.withColumn(
        "stop",
        F.when(F.col("tok").isin(*_RAKE_STOPS) | (F.col("tok") == ""), 1).otherwise(0),
    )
    wseg = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, 0
    )
    content = (
        marked.withColumn("ph", F.sum("stop").over(wseg))
        .where(F.col("stop") == 0)
        .select("doc_id", "ph", "pos", "tok")
        .localCheckpoint(eager=True)
    )
    plen = content.groupBy("doc_id", "ph").agg(
        F.count(F.lit(1)).cast("long").alias("plen")
    )
    wstat = (
        content.join(plen, ["doc_id", "ph"])
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
    )
    wscore = wstat.select(
        "tok", F.expr("(deg * 1000000000) div freq").alias("w_nanos")
    )
    phrases = (
        content.join(wscore, "tok")
        .groupBy("doc_id", "ph")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("w_nanos").cast("long").alias("score_nanos"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
        .where(F.col("n_words") >= 2)
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("score_nanos").cast("long").alias("score_nanos"),
            F.max("n_words").cast("long").alias("n_words"),
        )
        .select("phrase", "n_occurrences", "score_nanos", "n_words")
        .orderBy(F.desc("score_nanos"), "phrase")
        .limit(20)
    )


@query(
    "bigram_lm_perplexity",
    oracle="""
    WITH toks0 AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    toks AS (
      SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
             ts[CAST(t.i AS INT) + 1] AS tok
      FROM toks0, UNNEST(range(len(ts))) AS t(i)
      WHERE ts[CAST(t.i AS INT) + 1] <> ''
    ),
    tr AS (SELECT * FROM toks WHERE doc_id % 10 <> 0),
    te AS (SELECT * FROM toks WHERE doc_id % 10 = 0),
    v AS (SELECT CAST(COUNT(DISTINCT tok) + 1 AS BIGINT) AS v FROM tr),
    big_tr AS (
      SELECT a.doc_id, a.tok AS w1, b.tok AS w2
      FROM tr a JOIN tr b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM big_tr
            GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c FROM c12 GROUP BY w1),
    big_te AS (
      SELECT a.doc_id, a.tok AS w1, b.tok AS w2
      FROM te a JOIN te b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ),
    contrib AS (
      SELECT t.doc_id,
             CAST(ROUND(ln(CAST(COALESCE(u.c, 0) + v.v AS DOUBLE)
                           / CAST(COALESCE(b.c, 0) + 1 AS DOUBLE)) * 1e9)
                  AS BIGINT) AS nanos
      FROM big_te t
      LEFT JOIN c12 b ON b.w1 = t.w1 AND b.w2 = t.w2
      LEFT JOIN c1 u ON u.w1 = t.w1
      CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(nanos) AS BIGINT) AS surprisal_nanos,
           CAST(SUM(nanos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e9
             AS avg_surprisal
    FROM contrib GROUP BY doc_id ORDER BY doc_id
    """,
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM LANGUAGE-MODEL scoring of held-out documents — the
    perplexity-style quality filter one order above `text_surprisal`'s
    unigram model (word-order violations that unigram frequency cannot
    see score high here): train an add-1-smoothed bigram LM on the 90%
    split (doc_id % 10 != 0 — the dedup_incremental corpus/batch
    convention), score each held-out document's total and mean
    surprisal −ln p(w2|w1) with p = (c(w1,w2)+1)/(c(w1)+V),
    V = train vocab + 1 (the UNK slot, so unseen contexts read the
    uniform 1/V). Per-bigram contributions are ROUND(ln·1e9) int-nanos
    BEFORE the per-doc sum (the text_surprisal/BM25 discipline:
    order-independent integer aggregation; only the final mean divides
    in double). Out-of-vocabulary test words fall out naturally — a
    missing count join coalesces to 0 on both engines.

    Scale shape: bigrams via a per-doc positional self-join (exactly
    ONE match per position — pos+1 is a join key, the
    random_walk_sample no-fanout argument); model tables are two hash
    aggregates probed by equi-joins (broadcastable, Catalyst-decided);
    one doc-keyed aggregate ends it. No windows, nothing pairwise."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
        .where(F.col("tok") != "")
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")
    )
    tr = toks.where(F.col("doc_id") % 10 != 0)
    te = toks.where(F.col("doc_id") % 10 == 0)
    v = tr.agg((F.count_distinct("tok") + 1).cast("long").alias("v"))

    def bigrams(df: DataFrame) -> DataFrame:
        a = df.select(
            F.col("doc_id").alias("d"), F.col("pos").alias("p"), F.col("tok").alias("w1")
        )
        b = df.select(
            F.col("doc_id").alias("d2"), F.col("pos").alias("p2"), F.col("tok").alias("w2")
        )
        return a.join(
            b, (F.col("d") == F.col("d2")) & (F.col("p2") == F.col("p") + 1)
        ).select(F.col("d").alias("doc_id"), "w1", "w2")

    c12 = bigrams(tr).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    c1 = c12.groupBy("w1").agg(F.sum("c").cast("long").alias("cu"))
    contrib = (
        bigrams(te)
        .join(c12.withColumnRenamed("c", "cb"), ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.coalesce("cu", F.lit(0)) + F.col("v")).cast("double")
                    / (F.coalesce("cb", F.lit(0)) + 1).cast("double")
                )
                * 1e9
            )
            .cast("long")
            .alias("nanos"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("nanos").cast("long").alias("surprisal_nanos"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "surprisal_nanos",
            (
                F.col("surprisal_nanos").cast("double")
                / F.col("n_bigrams").cast("double")
                / 1e9
            ).alias("avg_surprisal"),
        )
        .orderBy("doc_id")
    )


@query(
    "tokenizer_fertility_by_lang",
    oracle="""
    WITH d AS (
      SELECT lang,
             CAST(length(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT)
               AS n_pieces,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                  AS BIGINT) AS n_words
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST((SUM(n_pieces) * 1000000) // SUM(n_words) AS BIGINT)
             AS fertility_micros
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY per language — pieces emitted per whitespace
    word, the standard multilingual-tokenizer equity metric (a
    tokenizer trained on English shows fertility blowing up on
    underrepresented scripts, which silently taxes those languages'
    effective context and training compute). Pieces use the BPE-ish
    regex of `token_count`; fertility = floor(Σpieces·1e6/Σwords) per
    language — one integer division of exact corpus sums (never a mean
    of per-doc ratios, which would weight short docs equally with
    long).

    Scale shape: one map-side pass (two regex counts per row), one
    language-keyed aggregate. O(#langs) output."""
    d = table(spark, sf_dir, "documents").select(
        "lang",
        F.regexp_count(F.col("text"), F.lit("[a-z]+|[0-9]+"))
        .cast("long")
        .alias("n_pieces"),
        F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        .cast("long")
        .alias("n_words"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.sum("n_words").cast("long").alias("n_words"),
        )
        .select(
            "lang",
            "n_docs",
            "n_pieces",
            "n_words",
            F.expr("(n_pieces * 1000000) div n_words")
            .cast("long")
            .alias("fertility_micros"),
        )
        .orderBy("lang")
    )


@query(
    "kneser_ney_prob",
    oracle="""
    WITH toks0 AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    toks AS (
      SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
             ts[CAST(t.i AS INT) + 1] AS tok
      FROM toks0, UNNEST(range(len(ts))) AS t(i)
      WHERE ts[CAST(t.i AS INT) + 1] <> ''
    ),
    tr AS (SELECT * FROM toks WHERE doc_id % 10 <> 0),
    te AS (SELECT * FROM toks WHERE doc_id % 10 = 0),
    big_tr AS (
      SELECT a.tok AS w1, b.tok AS w2, CAST(COUNT(*) AS HUGEINT) AS c12
      FROM tr a JOIN tr b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      GROUP BY a.tok, b.tok
    ),
    c1 AS (
      SELECT w1, CAST(SUM(c12) AS HUGEINT) AS c1,
             CAST(COUNT(*) AS HUGEINT) AS n1l
      FROM big_tr GROUP BY w1
    ),
    n1r AS (
      SELECT w2, CAST(COUNT(*) AS HUGEINT) AS n1r FROM big_tr GROUP BY w2
    ),
    tt AS (SELECT CAST(COUNT(*) AS HUGEINT) AS t FROM big_tr),
    big_te AS (
      SELECT a.doc_id, a.tok AS w1, b.tok AS w2
      FROM te a JOIN te b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ),
    scored AS (
      SELECT g.doc_id,
             (1000000000 * CASE
                WHEN c1.c1 IS NULL THEN COALESCE(n1r.n1r, 0)
                ELSE GREATEST(4 * COALESCE(b.c12, 0) - 3, 0) * tt.t
                     + 3 * c1.n1l * COALESCE(n1r.n1r, 0)
              END)
             // (CASE WHEN c1.c1 IS NULL THEN tt.t ELSE 4 * c1.c1 * tt.t END)
               AS p_nanos
      FROM big_te g
      LEFT JOIN big_tr b ON b.w1 = g.w1 AND b.w2 = g.w2
      LEFT JOIN c1 ON c1.w1 = g.w1
      LEFT JOIN n1r ON n1r.w2 = g.w2
      CROSS JOIN tt
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(p_nanos) AS BIGINT) AS sum_p_nanos,
           CAST(SUM(p_nanos) // COUNT(*) AS BIGINT) AS mean_p_nanos
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def kneser_ney_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNESER-NEY smoothed bigram scoring of held-out documents — the
    modern-LM-tokenizer-era smoother next to bigram_lm_perplexity's
    add-1: absolute discount d = 3/4 with CONTINUATION back-off,
    p_KN(w2|w1) = (max(c12 - d, 0) + d n1+(w1,.) p_cont(w2)) / c(w1),
    p_cont(w2) = n1+(., w2) / #bigram-types; an unseen context w1
    backs off to p_cont alone. d = 3/4 clears denominators: every
    probability is the EXACT integer rational
    (max(4 c12 - 3, 0) T + 3 n1l(w1) n1r(w2)) / (4 c(w1) T), floored
    once to int nanos — deliberately reporting mean in-context
    PROBABILITY rather than log perplexity so no transcendental ever
    runs (the sprt_sequential no-engine-evaluates-ln discipline).

    Scale shape: identical to bigram_lm_perplexity — bigrams via the
    per-doc positional self-join (pos+1 is a join key: exactly one
    match, no fan-out), three hash-aggregate model tables probed by
    equi-joins (broadcastable, Catalyst-decided), the type total is a
    1-row crossJoin broadcast, one doc-keyed aggregate ends it."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
        .where(F.col("tok") != "")
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")
    )
    tr = toks.where(F.col("doc_id") % 10 != 0)
    te = toks.where(F.col("doc_id") % 10 == 0)

    def bigrams(df: DataFrame) -> DataFrame:
        a = df.select(
            F.col("doc_id").alias("d"), F.col("pos").alias("p"), F.col("tok").alias("w1")
        )
        b = df.select(
            F.col("doc_id").alias("d2"), F.col("pos").alias("p2"), F.col("tok").alias("w2")
        )
        return a.join(
            b, (F.col("d") == F.col("d2")) & (F.col("p2") == F.col("p") + 1)
        ).select(F.col("d").alias("doc_id"), "w1", "w2")

    d38 = "decimal(38,0)"
    big_tr = (
        bigrams(tr)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast(d38).alias("c12"))
    )
    c1 = big_tr.groupBy("w1").agg(
        F.sum("c12").cast(d38).alias("c1"),
        F.count(F.lit(1)).cast(d38).alias("n1l"),
    )
    n1r = big_tr.groupBy("w2").agg(F.count(F.lit(1)).cast(d38).alias("n1r"))
    tt = big_tr.agg(F.count(F.lit(1)).cast(d38).alias("t"))
    scored = (
        bigrams(te)
        .join(big_tr.withColumnRenamed("w1", "bw1").withColumnRenamed("w2", "bw2"),
              (F.col("w1") == F.col("bw1")) & (F.col("w2") == F.col("bw2")), "left")
        .join(c1.withColumnRenamed("w1", "cw1"), F.col("w1") == F.col("cw1"), "left")
        .join(n1r.withColumnRenamed("w2", "nw2"), F.col("w2") == F.col("nw2"), "left")
        .crossJoin(F.broadcast(tt))
        .select(
            "doc_id",
            F.expr(
                "(1000000000 * CASE"
                "   WHEN c1 IS NULL THEN COALESCE(n1r, CAST(0 AS DECIMAL(38,0)))"
                "   ELSE GREATEST(4 * COALESCE(c12, CAST(0 AS DECIMAL(38,0))) - 3,"
                "                 CAST(0 AS DECIMAL(38,0))) * t"
                "        + 3 * n1l * COALESCE(n1r, CAST(0 AS DECIMAL(38,0)))"
                " END)"
                " div (CASE WHEN c1 IS NULL THEN t ELSE 4 * c1 * t END)"
            ).alias("p_nanos"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("p_nanos").cast("long").alias("sum_p_nanos"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_p_nanos",
            F.expr("CAST(sum_p_nanos div n_bigrams AS BIGINT)").alias(
                "mean_p_nanos"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "naive_bayes_lang",
    oracle="""
    WITH toks0 AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents
    ),
    toks AS (
      SELECT doc_id, lang, ts[CAST(t.i AS INT) + 1] AS tok
      FROM toks0, UNNEST(range(len(ts))) AS t(i)
      WHERE ts[CAST(t.i AS INT) + 1] <> ''
    ),
    tr AS (SELECT * FROM toks WHERE doc_id % 10 <> 0),
    te AS (SELECT * FROM toks WHERE doc_id % 10 = 0),
    v AS (SELECT CAST(COUNT(DISTINCT tok) + 1 AS BIGINT) AS v FROM tr),
    cl AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS c_l FROM tr GROUP BY lang
    ),
    ctl AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tr
      GROUP BY lang, tok
    ),
    docs_tr AS (
      SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
      FROM tr GROUP BY lang
    ),
    nd_tot AS (SELECT CAST(SUM(nd) AS BIGINT) AS n FROM docs_tr),
    prior AS (
      SELECT d.lang,
             CAST(ROUND(ln(CAST(d.nd AS DOUBLE) / CAST(t.n AS DOUBLE)) * 1e9)
                  AS BIGINT) AS prior_nanos
      FROM docs_tr d, nd_tot t
    ),
    contrib AS (
      SELECT te.doc_id, cl.lang,
             CAST(ROUND(ln(CAST(COALESCE(ctl.c, 0) + 1 AS DOUBLE)
                           / CAST(cl.c_l + v.v AS DOUBLE)) * 1e9)
                  AS BIGINT) AS nanos
      FROM te
      CROSS JOIN cl
      CROSS JOIN v
      LEFT JOIN ctl ON ctl.lang = cl.lang AND ctl.tok = te.tok
    ),
    score AS (
      SELECT c.doc_id, c.lang,
             CAST(SUM(c.nanos) AS BIGINT) + MIN(p.prior_nanos) AS s
      FROM contrib c JOIN prior p ON p.lang = c.lang
      GROUP BY c.doc_id, c.lang
    ),
    pred AS (
      SELECT doc_id, lang AS pred_lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY s DESC, lang) AS rn
        FROM score
      ) WHERE rn = 1
    )
    SELECT d.lang AS true_lang, p.pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred p JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY d.lang, p.pred_lang
    ORDER BY true_lang, pred_lang
    """,
)
def naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTINOMIAL NAIVE BAYES language classifier — train on the 90%
    split, score held-out documents, report the CONFUSION MATRIX: the
    generative counterpart to text_lang_id's marker heuristic and the
    classic 'train a model entirely in the engine' demonstration
    (model = two count tables). Add-1 smoothing over the train
    vocabulary (+UNK); per-token log-likelihood contributions are
    ROUND(ln((c+1)/(c_l+V))*1e9) int-nanos BEFORE the per-(doc, lang)
    sum (the bigram_lm_perplexity order-independent-integer
    discipline), priors likewise; argmax ties break to the smaller
    lang. (The fixture shares one vocabulary across lang labels, so
    accuracy here reads near-chance — text_lang_id documents the same
    fixture property; the machinery is what is under test.)

    Scale shape: the model is two hash aggregates (lang totals,
    (lang, tok) counts) probed by equi-joins — broadcastable,
    Catalyst-decided; scoring is one (doc, lang)-keyed aggregate over
    test tokens x k langs (k = 5, a domain constant); argmax is a
    per-doc WindowGroupLimit; the confusion matrix is a k x k
    aggregate."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    tr = toks.where(F.col("doc_id") % 10 != 0)
    te = toks.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.col("tok").alias("t_tok")
    )
    v = tr.agg((F.count_distinct("tok") + 1).cast("long").alias("v"))
    cl = tr.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("c_l"))
    ctl = tr.groupBy(F.col("lang").alias("m_lang"), F.col("tok").alias("m_tok")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    docs_tr = tr.groupBy("lang").agg(
        F.count_distinct("doc_id").cast("long").alias("nd")
    )
    nd_tot = docs_tr.agg(F.sum("nd").cast("long").alias("n"))
    prior = docs_tr.crossJoin(F.broadcast(nd_tot)).select(
        "lang",
        F.round(
            F.log(F.col("nd").cast("double") / F.col("n").cast("double")) * 1e9
        )
        .cast("long")
        .alias("prior_nanos"),
    )
    contrib = (
        te.crossJoin(F.broadcast(cl))
        .crossJoin(F.broadcast(v))
        .join(
            ctl,
            (F.col("m_lang") == F.col("lang")) & (F.col("m_tok") == F.col("t_tok")),
            "left",
        )
        .select(
            "doc_id",
            "lang",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("c_l") + F.col("v")).cast("double")
                )
                * 1e9
            )
            .cast("long")
            .alias("nanos"),
        )
    )
    score = (
        contrib.join(F.broadcast(prior), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            (F.sum("nanos") + F.min("prior_nanos")).cast("long").alias("s")
        )
    )
    wd = W.partitionBy("doc_id").orderBy(F.desc("s"), "lang")
    pred = (
        score.withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"))
    )
    truth = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    return (
        pred.join(truth, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("true_lang", "pred_lang")
    )
