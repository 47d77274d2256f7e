"""Dataset-curation operators for LLM training pipelines (SURVEY.md §2.13
X-extensions, X9 row): deterministic train/val/test splitting, per-group
hash sampling, benchmark decontamination, intra-document repetition
scoring, and batch sessionization.

These extend the X1–X8 families with the remaining steps a production
training-data pipeline runs between dedup and tokenization. Everything
here is built-in-function DataFrame code (md5 / split / explode /
window) — no Python in the hot path — and every key is DuckDB-oracle
checked (md5 and the token pipelines are bit-identical across engines).

Scale notes (100 TB):
  * Hash-splitting and hash-sampling are embarrassingly parallel map-side
    expressions — no shuffle beyond the final (tiny) aggregate.
  * Decontamination joins on md5(gram) — candidates come from a hash
    equi-join (shuffle keys are 32-byte digests, never document text),
    the same never-pairwise shape as the X2 dedup family.
  * Sessionization is one keyed shuffle (partitionBy user) + running
    windows — the batch twin of streaming/queries.py::stream_session,
    here with a full value-hash oracle instead of a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import SESSION_GAP_US as _SESSION_GAP_US
from ..catalog import table
from ..exact import dec2, md5_int
from ..functions.vectors import dot
from ..registry import query

_D38 = "decimal(38,0)"


@query(
    "split_assign",
    oracle="""
    WITH h AS (
      SELECT doc_id, n_chars,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) AS h3
      FROM documents
    ),
    s AS (
      SELECT CASE WHEN h3 < 'ccc' THEN 'train'
                  WHEN h3 < 'e66' THEN 'val'
                  ELSE 'test' END AS split,
             n_chars
      FROM h
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
    FROM s GROUP BY split
    """,
)
def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9: deterministic train/val/test assignment by content-stable hash.

    split(doc) = md5(doc_id) bucketed at 80/10/10 ('ccc'/'e66' are the
    3-hex-digit thresholds: 3276/4096 ≈ 0.8, 3686/4096 ≈ 0.9). The split
    is a pure per-row expression — re-running over a grown corpus never
    reassigns an existing document (unlike rand()-based splits), which is
    the property training pipelines need for stable eval sets. Map-side
    only; the one shuffle is the 3-row summary aggregate.
    """
    h3 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 3)
    split = (
        F.when(h3 < "ccc", "train").when(h3 < "e66", "val").otherwise("test")
    )
    return (
        table(spark, sf_dir, "documents")
        .select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
        )
    )


@query(
    "sample_hash_topk",
    oracle="""
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT lang, doc_id, n_chars, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 20
    """,
)
def sample_hash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9: deterministic k-per-group sampling (hash order, k=20 per lang).

    The exact-checkable twin of `sample_stratified` (rows-only): ordering
    by md5(doc_id) is uniform-pseudorandom yet reproducible across runs
    and engines, so the "sample" is a value-hashable result. Catalyst
    plans the rn<=20 filter as WindowGroupLimit — per-partition top-k
    pushed below the shuffle, so the exchange carries ≤ k·|groups| rows,
    the same plan shape the W5 top-k family pins in tests/test_plans.py.
    """
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        table(spark, sf_dir, "documents")
        .select(
            "lang",
            "doc_id",
            "n_chars",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .where(F.col("rn") <= 20)
    )


@query(
    "contamination_check",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    d2 AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 5),
    grams AS (
      SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+4], ' ')) AS gh
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i FROM d2)
    ),
    ev AS (SELECT doc_id, gh FROM grams WHERE doc_id % 20 = 0),
    tr AS (SELECT doc_id AS train_doc, gh FROM grams WHERE doc_id % 20 <> 0),
    hits AS (
      SELECT e.doc_id,
             COUNT(DISTINCT e.gh) AS n_hit,
             COUNT(DISTINCT t.train_doc) AS n_train_docs
      FROM ev e JOIN tr t ON t.gh = e.gh
      GROUP BY e.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM ev GROUP BY doc_id)
    SELECT s.doc_id,
           CAST(s.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(h.n_train_docs, 0) AS BIGINT) AS n_train_docs,
           ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
                 / CAST(s.n_grams AS DOUBLE), 6) AS contamination_rate
    FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9: benchmark decontamination — word-5-gram overlap of an eval
    slice (doc_id % 20 = 0, the stand-in for a held-out benchmark)
    against the training slice.

    Per eval document: distinct 5-gram count, how many of those grams
    appear anywhere in the training set, how many distinct training
    documents share one, and the contamination rate. The join key is
    md5(gram) — shuffles carry digests, never text, and candidates come
    from a hash equi-join (never pairwise), the X2 dedup shape. At
    100 TB the train-gram side is pre-deduped (distinct) before the
    join, so its size is the vocabulary of grams, not the corpus.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("toks")
    )
    grams = (
        docs.where(F.size("toks") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 4),"
                    " i -> md5(concat_ws(' ', slice(toks, i, 5))))"
                )
            ).alias("gh"),
        )
        .distinct()
    )
    ev = grams.where(F.col("doc_id") % 20 == 0)
    tr = grams.where(F.col("doc_id") % 20 != 0).select(
        F.col("doc_id").alias("train_doc"), "gh"
    )
    hits = (
        ev.join(tr, "gh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gh").alias("n_hit"),
            F.countDistinct("train_doc").alias("n_train_docs"),
        )
    )
    sizes = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        F.coalesce("n_train_docs", F.lit(0)).alias("n_train_docs"),
        F.round(
            F.coalesce("n_hit", F.lit(0)).cast("double")
            / F.col("n_grams").cast("double"),
            6,
        ).alias("contamination_rate"),
    )


@query(
    "text_repetition",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    d2 AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 3),
    tri AS (
      SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM d2)
    ),
    per_gram AS (
      SELECT doc_id, g, COUNT(*) AS cnt FROM tri GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_trigrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(cnt) AS BIGINT) AS top_count,
           ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
             AS repetition_ratio,
           ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
             AS top_share
    FROM per_gram GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9/X4: intra-document repetition scoring (boilerplate detector).

    Word-trigram profile per document: total trigrams, distinct trigrams,
    the most-repeated trigram's count, repetition ratio (1 − distinct/
    total — the "duplicate n-gram fraction" quality signal from public
    web-corpus filtering recipes) and the top trigram's share. Two hash
    aggregates keyed by (doc_id, gram) then doc_id — both map-side
    combinable, no joins, no Python.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("toks")
    )
    tri = docs.where(F.size("toks") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 2),"
                " i -> concat_ws(' ', slice(toks, i, 3)))"
            )
        ).alias("g"),
    )
    per_gram = tri.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_trigrams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_count"),
        F.round(
            F.lit(1.0)
            - F.count(F.lit(1)).cast("double") / F.sum("cnt").cast("double"),
            6,
        ).alias("repetition_ratio"),
        F.round(F.max("cnt").cast("double") / F.sum("cnt").cast("double"), 6).alias(
            "top_share"
        ),
    )


@query(
    "curation_pipeline",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) AS h3,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
      FROM documents
    ),
    st AS (
      SELECT CASE WHEN h3 < 'ccc' THEN 'train'
                  WHEN h3 < 'e66' THEN 'val'
                  ELSE 'test' END AS split,
             CASE WHEN doc_id <> keep_id THEN 'duplicate'
                  WHEN len(toks) < 5 THEN 'too_short'
                  WHEN CAST(len(list_distinct(toks)) AS DOUBLE)
                       / CAST(len(toks) AS DOUBLE) < 0.2 THEN 'low_quality'
                  ELSE 'kept' END AS status
      FROM d
    )
    SELECT split, status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM st GROUP BY split, status
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 flagship composite: the full curation funnel in one plan —
    exact-dedup keeper (X1: min doc_id per md5(text) window), quality
    gate (X4: length + type-token-ratio thresholds, precedence
    duplicate > too_short > low_quality), and the deterministic hash
    split — reported as a (split, status) audit matrix.

    One md5-keyed window shuffle for the keeper + one tiny aggregate;
    the quality signals and split are per-row expressions fused into the
    same stage by whole-stage codegen. This is the shape of a real
    pre-tokenization pass: content flows through exactly one shuffle.
    """
    keep_w = W.partitionBy(F.md5("text"))
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("toks"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 3).alias("h3"),
        F.min("doc_id").over(keep_w).alias("keep_id"),
    )
    ttr = F.size(F.array_distinct("toks")).cast("double") / F.size("toks").cast(
        "double"
    )
    status = (
        F.when(F.col("doc_id") != F.col("keep_id"), "duplicate")
        .when(F.size("toks") < 5, "too_short")
        .when(ttr < 0.2, "low_quality")
        .otherwise("kept")
    )
    split = (
        F.when(F.col("h3") < "ccc", "train")
        .when(F.col("h3") < "e66", "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), status.alias("status"))
        .groupBy("split", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "sessionize_batch",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events
    ),
    f AS (
      SELECT user_id, event_id, us,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    s AS (
      SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM f
    )
    SELECT user_id,
           CAST(sess AS BIGINT) AS session_idx,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(us) AS BIGINT) AS start_us,
           CAST(MAX(us) AS BIGINT) AS end_us,
           CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us
    FROM s GROUP BY user_id, sess
    """,
)
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9: gap-based sessionization over the event log (30-min gap) —
    the batch twin of streaming/queries.py::stream_session, with a full
    value-hash oracle (the streaming form is rows-only by design).

    lag → new-session flag → running sum = session index, then one
    aggregate per (user, session). All timestamp math happens on unix
    micros as bigints (cross-engine exact; see catalog._events). One
    keyed shuffle on user_id serves both window passes and the final
    aggregate — Catalyst reuses the partitioning across the three steps.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    lag_us = F.lag("us").over(w)
    flagged = ev.withColumn(
        "new_s",
        F.when(
            lag_us.isNull() | (F.col("us") - lag_us > _SESSION_GAP_US), 1
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        (F.max("us") - F.min("us")).alias("dur_us"),
    )


@query(
    "corpus_mixture",
    oracle="""
    WITH ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ),
    keyed AS (
      SELECT lang, doc_id,
             (2 * rn - 1) * CASE lang WHEN 'en' THEN 2
                                      WHEN 'zh' THEN 3
                                      ELSE 6 END AS mix_key
      FROM ranked
    ),
    head AS (
      SELECT lang, doc_id, CAST(mix_key AS BIGINT) AS mix_key
      FROM keyed ORDER BY mix_key, lang, doc_id LIMIT 200
    )
    SELECT CAST(row_number() OVER (ORDER BY mix_key, lang, doc_id) AS BIGINT)
             AS position,
           lang, doc_id, mix_key
    FROM head
    """,
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9: proportional corpus mixing by stride scheduling — emit the
    first 200 documents of a deterministic interleave that samples
    languages at weights en:3, zh:2, others:1 (the language-balancing
    step of an LLM data pipeline, where heavy corpora are downweighted
    without a random sampler).

    Stride scheduling in exact integers: within each language, docs get
    a hash-ordered rank rn; the global interleave key is
    (2*rn - 1) * (LCM(weights)/weight_lang), so a language with weight
    w contributes one doc every LCM/w key-units — proportions hold in
    every prefix of the stream, not just in expectation. The top-200 by
    key compiles to TakeOrderedAndProject (per-partition top-k, no full
    sort), and the final position numbering runs over the 200 surviving
    rows only — as a theta-join rank (count of strictly-earlier rows),
    so no WindowExec touches the plan at all. Weights are integers and
    the key is exact, so the result value-hashes identically on both
    engines.
    """
    docs = table(spark, sf_dir, "documents")
    rn_w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    stride = (
        F.when(F.col("lang") == "en", 2)
        .when(F.col("lang") == "zh", 3)
        .otherwise(6)
    )
    keyed = docs.select(
        "lang",
        "doc_id",
        ((2 * F.row_number().over(rn_w) - 1) * stride).cast("long").alias("mix_key"),
    )
    head = keyed.orderBy("mix_key", "lang", "doc_id").limit(200)
    # position = 1 + |strictly-earlier rows|, via a theta-join of the
    # 200-row head against itself — replaces the bounded-but-warning
    # single-partition window (keys are unique tuples, so the count is
    # exact rank)
    prev = head.select(
        F.col("mix_key").alias("mk2"),
        F.col("lang").alias("lang2"),
        F.col("doc_id").alias("id2"),
    )
    before = (
        (F.col("mk2") < F.col("mix_key"))
        | ((F.col("mk2") == F.col("mix_key")) & (F.col("lang2") < F.col("lang")))
        | (
            (F.col("mk2") == F.col("mix_key"))
            & (F.col("lang2") == F.col("lang"))
            & (F.col("id2") < F.col("doc_id"))
        )
    )
    return (
        head.join(F.broadcast(prev), before, "left")
        .groupBy("mix_key", "lang", "doc_id")
        .agg((F.count("id2") + 1).cast("long").alias("position"))
        .select("position", "lang", "doc_id", "mix_key")
    )


# Context-window budget for sequence packing, in characters (swap the
# measure for textops.token_count's regex count for BPE-ish budgets —
# the packing math is identical for any integer size column).
_PACK_BUDGET_CHARS = 4096


@query(
    "pack_sequences",
    oracle=f"""
    WITH ordered AS (
      SELECT source, n_chars,
             SUM(n_chars) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM documents
    )
    SELECT source,
           CAST((cum - n_chars) // {_PACK_BUDGET_CHARS} AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total
    FROM ordered
    GROUP BY source, bin
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9: sequence packing — assign documents to fixed-budget context
    windows (4096 chars) and report per-bin fill, the step that turns a
    curated corpus into dense training examples.

    Offset packing, not first-fit: docs are laid end-to-end in a
    deterministic hash order within each source, and a doc's bin is the
    window its START offset falls in (floor((cumsum - len) / budget)).
    That makes the assignment a running-sum window + integer division —
    pure prefix math, no sequential bin-state loop — so it scales as
    one keyed shuffle per source partition; sources pack independently
    and in parallel (the 100 TB sharding axis), and re-packing after
    appending docs never reshuffles earlier bins. Integer cumsum over
    an identical ordering is exact on both engines.
    """
    docs = table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = F.sum("n_chars").over(w)
    binned = docs.select(
        "source",
        "n_chars",
        (cum - F.col("n_chars")).alias("start_off"),
    ).select(
        "source",
        "n_chars",
        # integer div, not double /: exact for any corpus size
        F.expr(f"start_off div {_PACK_BUDGET_CHARS}").cast("long").alias("bin"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )


@query(
    "dup_rate_by_source",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source, md5(lower(text)) AS f FROM documents
    ),
    spread AS (
      SELECT f, COUNT(DISTINCT source) AS n_sources FROM fp GROUP BY f
    )
    SELECT fp.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN s.n_sources >= 2 THEN 1 END) AS BIGINT) AS n_cross_dup,
           ROUND(COUNT(CASE WHEN s.n_sources >= 2 THEN 1 END) * 1.0 / COUNT(*), 6)
             AS cross_dup_rate
    FROM fp JOIN spread s ON s.f = fp.f
    GROUP BY fp.source
    """,
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9/X1 audit: per-source cross-shard duplication rate — the
    fraction of each source's documents whose normalized fingerprint
    also appears in at least one OTHER source. This is the contamination
    dashboard a multi-source crawl runs before mixing: a source whose
    content is largely replicated elsewhere should be down-weighted or
    dropped (pairs with corpus_mixture's weights).

    Fingerprint → distinct-source spread → join back → per-source
    conditional count: both aggregates and the join are keyed on the
    16-byte md5, never on content; the spread table is |distinct
    fingerprints| rows and the join is an equi-join, so the whole audit
    is two keyed shuffles at any corpus size. Semantics on planted
    cross-source duplicates are pinned in tests (the fixture itself has
    no duplicate texts, which the oracle equally confirms).
    """
    fp = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.lower(F.col("text")).cast("binary")).alias("f"),
    )
    spread = fp.groupBy("f").agg(
        F.count_distinct("source").alias("n_sources")
    )
    joined = fp.join(spread, "f")
    cross = F.count(F.when(F.col("n_sources") >= 2, 1))
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        cross.alias("n_cross_dup"),
        F.round(cross * F.lit(1.0) / F.count(F.lit(1)), 6).alias("cross_dup_rate"),
    )


@query(
    "layout_zorder",
    oracle="""
    WITH xy AS (
      SELECT l_partkey & 255 AS x, l_suppkey & 255 AS y FROM lineitem
    ),
    s1 AS (
      SELECT x, y, ((x | (x << 4)) & 3855) AS x1, ((y | (y << 4)) & 3855) AS y1
      FROM xy
    ),
    s2 AS (
      SELECT x, y, ((x1 | (x1 << 2)) & 13107) AS x2, ((y1 | (y1 << 2)) & 13107) AS y2
      FROM s1
    ),
    m AS (
      SELECT x, y,
             (((x2 | (x2 << 1)) & 21845) | (((y2 | (y2 << 1)) & 21845) << 1)) AS morton
      FROM s2
    )
    SELECT CAST(morton // 1024 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
           CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
    FROM m GROUP BY 1
    """,
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 production layout: Z-order (Morton) clustering key for
    two-column locality — interleave the low 8 bits of (l_partkey,
    l_suppkey) so that sorting/partitioning by the key co-locates rows
    that are close in BOTH dimensions. Writing files in this order
    gives parquet min/max pruning on either column simultaneously (the
    Delta/Iceberg OPTIMIZE ZORDER primitive); the same spread-bits
    expression is the repartitionByRange key at write time.

    The bit-spread is the classic mask ladder ((v|v<<4)&0x0F0F,
    (v|v<<2)&0x3333, (v|v<<1)&0x5555) — pure int64 shifts/masks, exact
    on both engines. The query reports per-1024-key-bucket occupancy
    with the x/y bounding box each bucket covers — the locality
    property itself (each bucket spans one 32x32 rectangle), verified
    by the oracle and pinned in tests.
    """

    def spread(c):
        c = c.bitwiseOR(F.shiftleft(c, 4)).bitwiseAND(F.lit(0x0F0F))
        c = c.bitwiseOR(F.shiftleft(c, 2)).bitwiseAND(F.lit(0x3333))
        return c.bitwiseOR(F.shiftleft(c, 1)).bitwiseAND(F.lit(0x5555))

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").bitwiseAND(F.lit(255)).alias("x"),
        F.col("l_suppkey").bitwiseAND(F.lit(255)).alias("y"),
    )
    m = li.select(
        "x",
        "y",
        spread(F.col("x"))
        .bitwiseOR(F.shiftleft(spread(F.col("y")), 1))
        .alias("morton"),
    )
    return (
        m.groupBy(F.expr("morton div 1024").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").cast("long").alias("min_x"),
            F.max("x").cast("long").alias("max_x"),
            F.min("y").cast("long").alias("min_y"),
            F.max("y").cast("long").alias("max_y"),
        )
    )


@query(
    "doc_chunk",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents
    ),
    starts AS (
      SELECT doc_id, text, n,
             CAST(unnest(range(0, n + 192, 192)) AS BIGINT) AS start
      FROM base
    )
    SELECT doc_id, start,
           CAST(length(substr(text, CAST(start AS INTEGER) + 1, 256)) AS BIGINT)
             AS chunk_len,
           md5(substr(text, CAST(start AS INTEGER) + 1, 256)) AS chunk_md5
    FROM starts WHERE start < n
    """,
)
def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9-adjacent: fixed-window document chunking — 256-char windows on
    a 192-char stride (64-char overlap), the context-window splitter a
    training/RAG pipeline runs before tokenization. Emits (doc_id,
    start, chunk_len, chunk_md5); the md5 stands in for the chunk
    payload so the 1->N expansion is value-checkable without shipping
    array columns through the driver's hasher.

    One generator projection (sequence + explode) and one substring —
    map-side only, NO shuffle anywhere: chunk rows inherit the parent
    document's partition, which is exactly what the downstream
    tokenize/pack stages want (per-source locality preserved). Spark's
    sequence() is inclusive and DuckDB's range() exclusive, so both
    sides over-generate one stride past the end and share the start < n
    filter.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").cast("long").alias("n")
    )
    starts = docs.select(
        "doc_id",
        "text",
        "n",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n") + 192, F.lit(192).cast("long"))
        ).alias("start"),
    ).where(F.col("start") < F.col("n"))
    chunk = F.substring(F.col("text"), F.col("start").cast("int") + 1, 256)
    return starts.select(
        "doc_id",
        "start",
        F.length(chunk).cast("long").alias("chunk_len"),
        F.md5(chunk.cast("binary")).alias("chunk_md5"),
    )


# Data-profiling columns for the quality gate: every large-scale
# ingestion run starts with "what is actually in this table" — null
# rates and key cardinalities per column. Exact integers only, so the
# profile is engine-portable (no min/max string rendering drift).
_PROFILE_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_quantity",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
)

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows, "
    f"CAST(COUNT(*) FILTER (WHERE {c} IS NULL) AS BIGINT) AS n_nulls, "
    f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct "
    f"FROM lineitem"
    for c in _PROFILE_COLS
)


@query("profile_table", oracle=_PROFILE_ORACLE)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 intake stage: per-column profile (row count, null count,
    exact distinct count) of the fact table — the first pass any
    curation pipeline runs over a new 100 TB delivery.

    Scale shape: ONE aggregation job over one scan. Spark plans the
    multi-column COUNT(DISTINCT) via Expand (|cols| duplicated rows
    map-side, then partial aggs), which is the standard exact-profile
    cost; the approximate tier (`agg_approx_count_distinct`) is the
    sketch alternative when ±2% suffices. The per-column rows come out
    of `stack`, not |cols| separate scans.
    """
    li = table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            e
            for c in _PROFILE_COLS
            for e in (
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}"),
                F.countDistinct(c).alias(f"nd_{c}"),
            )
        ],
    )
    stack_expr = ", ".join(
        f"'{c}', null_{c}, nd_{c}" for c in _PROFILE_COLS
    )
    return agg.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_expr}) AS (col_name, n_nulls, n_distinct)",
        "_n",
    ).select(
        "col_name",
        F.col("_n").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )


# RAG retrieval composite: chunk → embed → top-k retrieve. The embedding
# is a DETERMINISTIC hash projection (16 dims, each dim a bounded
# integer derived from md5(dim ':' chunk_md5)) — the documented stand-in
# for a model-inference Pandas UDF (functions/multimodal.py's codec-seam
# idiom): the Spark-side plumbing (chunker fan-out, embedding column
# shape, broadcast query join, per-query top-k cut) is the real
# pipeline; only the embedding math is fake, and being integer it is
# exactly replayable in SQL.
_RAG_DIMS = 16
_RAG_TOPK = 3

_RAG_EMBED_SQL = (
    "transform(sequence(0, {last}), i -> "
    "cast(conv(substr(md5(cast(concat(cast(i as string), ':', {col}) as binary)),"
    " 1, 8), 16, 10) as bigint) % 1000)"
)

_RAG_ORACLE = f"""
WITH corpus AS MATERIALIZED (
  SELECT doc_id, CAST(start AS BIGINT) AS start,
         md5(substr(text, CAST(start AS INTEGER) + 1, 256)) AS chunk_md5
  FROM (
    SELECT doc_id, text,
           unnest(range(0, length(text) + 192, 192)) AS start
    FROM documents WHERE doc_id % 10 <> 0
  ) WHERE start < length(text)
),
cemb AS MATERIALIZED (
  SELECT doc_id, start, CAST(d.i AS BIGINT) AS dim,
         ('0x' || substr(md5(CAST(d.i AS VARCHAR) || ':' || chunk_md5), 1, 8))::BIGINT
           % 1000 AS v
  FROM corpus, UNNEST(range({_RAG_DIMS})) AS d(i)
),
queries AS MATERIALIZED (
  SELECT doc_id AS query_id, md5(substr(text, 1, 256)) AS qmd5
  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 50
),
qemb AS MATERIALIZED (
  SELECT query_id, CAST(d.i AS BIGINT) AS dim,
         ('0x' || substr(md5(CAST(d.i AS VARCHAR) || ':' || qmd5), 1, 8))::BIGINT
           % 1000 AS v
  FROM queries, UNNEST(range({_RAG_DIMS})) AS d(i)
),
scores AS (
  SELECT q.query_id, c.doc_id, c.start,
         CAST(SUM(q.v * c.v) AS BIGINT) AS score
  FROM qemb q JOIN cemb c ON q.dim = c.dim
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT query_id, doc_id, start, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id, start
         ) AS rk
  FROM scores
)
SELECT query_id, doc_id, start, score, CAST(rk AS BIGINT) AS rnk
FROM ranked WHERE rk <= {_RAG_TOPK}
"""


@query("chunk_embed_retrieve", oracle=_RAG_ORACLE)
def chunk_embed_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9/X3 composite — the retrieval half of a RAG pipeline in one
    declarative plan: 256/192 chunker (doc_chunk's shape) over the
    corpus split, per-chunk embedding, dot-product scoring against a
    broadcast query set, top-{k} per query.

    Scale shape: chunking and embedding are map-side (chunk rows inherit
    the document's partitions); the query side is tiny and BROADCAST so
    scoring adds NO shuffle — the only wide operation is the per-query
    top-k, planned as WindowGroupLimit (rank pushed before the final
    sort). This is the exact tier; at corpus scales where brute-force
    scoring saturates, the LSH/IVF keys (`similarity_lsh`,
    `similarity_ivf`) provide the bucketed candidate generation and this
    plan runs within buckets.
    """
    docs = table(spark, sf_dir, "documents")
    corpus = (
        docs.where(F.col("doc_id") % 10 != 0)
        .select("doc_id", "text", F.length("text").cast("long").alias("n"))
        .select(
            "doc_id",
            "text",
            "n",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.col("n") + 192, F.lit(192).cast("long")
                )
            ).alias("start"),
        )
        .where(F.col("start") < F.col("n"))
        .select(
            "doc_id",
            "start",
            F.md5(
                F.substring(F.col("text"), F.col("start").cast("int") + 1, 256).cast(
                    "binary"
                )
            ).alias("chunk_md5"),
        )
        .withColumn(
            "cv",
            F.expr(_RAG_EMBED_SQL.format(last=_RAG_DIMS - 1, col="chunk_md5")),
        )
    )
    q = (
        docs.where((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 50))
        .select(
            F.col("doc_id").alias("query_id"),
            F.md5(F.substring("text", 1, 256).cast("binary")).alias("qmd5"),
        )
        .withColumn(
            "qv", F.expr(_RAG_EMBED_SQL.format(last=_RAG_DIMS - 1, col="qmd5"))
        )
    )
    scored = corpus.join(F.broadcast(q)).select(
        "query_id",
        "doc_id",
        "start",
        dot("qv", "cv").alias("score"),
    )
    rk = F.row_number().over(
        W.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id"), F.col("start")
        )
    )
    return (
        scored.withColumn("rnk", rk.cast("long"))
        .where(F.col("rnk") <= _RAG_TOPK)
        .select("query_id", "doc_id", "start", "score", "rnk")
    )


chunk_embed_retrieve.__doc__ = chunk_embed_retrieve.__doc__.format(k=_RAG_TOPK)


@query(
    "doc_length_band",
    oracle="""
    WITH q AS (
      SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.10) AS lo,
             quantile_cont(CAST(n_chars AS DOUBLE), 0.90) AS hi
      FROM documents
    )
    SELECT d.doc_id, d.n_chars, d.source
    FROM documents d, q
    WHERE CAST(d.n_chars AS DOUBLE) >= q.lo AND CAST(d.n_chars AS DOUBLE) <= q.hi
    """,
)
def doc_length_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 curation: keep documents inside the corpus P10–P90 length
    band — the outlier-trimming filter (too-short = boilerplate/noise,
    too-long = concatenation artifacts) applied before tokenization.
    Exact linearly-interpolated percentiles (Spark `percentile` ≙
    DuckDB `quantile_cont`, the agg_percentile anchor) computed in one
    1-row aggregate that broadcasts into the filter scan — two passes
    over doc METADATA (n_chars only, column-pruned; payloads never
    move). At 100 TB the declared scale path swaps the exact
    percentile for approx_percentile's mergeable sketch — the band
    bounds are thresholds, not reported values."""
    docs = table(spark, sf_dir, "documents")
    band = docs.agg(
        F.expr("percentile(CAST(n_chars AS DOUBLE), 0.10)").alias("lo"),
        F.expr("percentile(CAST(n_chars AS DOUBLE), 0.90)").alias("hi"),
    )
    return (
        docs.crossJoin(F.broadcast(band))
        .where(
            (F.col("n_chars").cast("double") >= F.col("lo"))
            & (F.col("n_chars").cast("double") <= F.col("hi"))
        )
        .select("doc_id", "n_chars", "source")
    )


@query(
    "join_skew_report",
    oracle="""
    WITH c AS (
      SELECT l_partkey AS key, COUNT(*) AS n FROM lineitem GROUP BY l_partkey
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_keys
          FROM c)
    SELECT c.key, CAST(c.n AS BIGINT) AS n,
           CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
           CAST(c.n * t.n_keys AS DOUBLE) / CAST(t.total AS DOUBLE) AS skew_factor
    FROM c, t
    ORDER BY c.n DESC, c.key ASC LIMIT 10
    """,
)
def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops diagnostic: the top-10 heaviest values of a join key
    (lineitem.l_partkey) with their row share and skew factor
    (count / mean-count) — the pre-flight check that decides between a
    plain shuffle join, AQE skew splitting, and explicit salting
    (ARCHITECTURE §8). One map-side-combinable count aggregate, a
    1-row broadcast total, and a TakeOrderedAndProject top-10 — no
    global sort, no collect. The shares are double divisions of
    identical exact ints, so the report itself is oracle-checkable."""
    # materialize the key-cardinality count table once: the total
    # derives from it AND it is the report's left side — without the
    # checkpoint the biggest-table scan + aggregate runs twice
    # (verified with .explain; the hypertable_rollup pattern)
    c = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    t = c.agg(
        F.sum("n").cast("long").alias("total"), F.count(F.lit(1)).cast("long").alias("n_keys")
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "key",
            F.col("n").cast("long").alias("n"),
            (F.col("n").cast("double") / F.col("total").cast("double")).alias("share"),
            (
                (F.col("n") * F.col("n_keys")).cast("double")
                / F.col("total").cast("double")
            ).alias("skew_factor"),
        )
        .orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(10)
    )


@query(
    "ngram_novelty",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    d2 AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 3),
    grams AS (
      SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+2], ' ')) AS gh
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM d2)
    ),
    new_side AS (SELECT doc_id, gh FROM grams WHERE doc_id % 4 = 0),
    ref AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 4 <> 0)
    SELECT n.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE r.gh IS NULL) AS BIGINT) AS n_novel,
           CAST(ROUND(CAST(COUNT(*) FILTER (WHERE r.gh IS NULL) AS DOUBLE)
                      * 1e6 / COUNT(*)) AS BIGINT) AS novelty_micros
    FROM new_side n LEFT JOIN ref r ON r.gh = n.gh
    GROUP BY n.doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9/X14: per-document n-gram novelty — the fraction of a new
    document's distinct word-3-grams never seen in the reference
    corpus (doc_id % 4 != 0 stands in for the existing training set) —
    the freshness/duplication prior used to value incoming data
    (near-zero novelty = the crawl re-fetched known content; cf.
    contamination_check, which asks the same question about an EVAL
    set at 5-gram granularity with per-hit provenance).

    Scale shape: the reference side is pre-deduplicated to the
    distinct gram VOCABULARY before the join (its size is the gram
    vocabulary, not the corpus), candidates come from the md5 hash
    equi-join (shuffles carry 32-byte digests, never text), and the
    per-doc ratio is exact integers with one micros-quantized
    division. The X2 dedup shuffle discipline end-to-end."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x <> '')").alias("toks")
    )
    grams = (
        docs.where(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 2),"
                    " i -> md5(concat_ws(' ', slice(toks, i, 3))))"
                )
            ).alias("gh"),
        )
        .distinct()
    )
    new_side = grams.where(F.col("doc_id") % 4 == 0)
    ref = (
        grams.where(F.col("doc_id") % 4 != 0)
        .select("gh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    novel = F.count_if(F.col("hit").isNull())
    return (
        new_side.join(ref, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            novel.cast("long").alias("n_novel"),
            F.round(novel.cast("double") * 1e6 / F.count(F.lit(1)))
            .cast("long")
            .alias("novelty_micros"),
        )
    )


def _entropy_branch_sql(col: str, tbl: str) -> str:
    return f"""
    SELECT '{tbl}.{col}' AS col_name,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CAST(ROUND(-(CAST(cnt AS DOUBLE) / tot)
                                * ln(CAST(cnt AS DOUBLE) / tot) * 1e9)
                         AS BIGINT)) AS BIGINT) AS entropy_nanos
    FROM (
      SELECT cnt, SUM(cnt) OVER () AS tot
      FROM (SELECT COUNT(*) AS cnt FROM {tbl} GROUP BY {col})
    )"""


_ENTROPY_BRANCHES = (
    ("event_type", "events"),
    ("lang", "documents"),
    ("source", "documents"),
    ("c_mktsegment", "customer"),
)

_ENTROPY_ORACLE = "\nUNION ALL\n".join(
    _entropy_branch_sql(c, t) for c, t in _ENTROPY_BRANCHES
)


@query("entropy_profile", oracle=_ENTROPY_ORACLE)
def entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 intake: Shannon entropy (nats) of the key categorical columns
    across the corpus tables — the balance diagnostic profile_table's
    count/null/distinct pass doesn't give (a source column with 0.1
    nats is one crawl pretending to be twenty). Each column's
    per-value terms -p ln p ride exact integer counts and are
    int-nanos-quantized before the per-column sum (ln parity per the
    BM25/surprisal precedent); the Spark builder and the oracle are
    generated from the SAME branch list so the profiled columns can
    never desync.

    Scale shape: per column, one map-side-combinable count aggregate
    to O(#values) rows, a window over that tiny aggregate for the
    total, and a per-value projection — the union is across columns,
    not data. Every branch prunes to its single column at the scan."""
    out = None
    for col, tbl in _ENTROPY_BRANCHES:
        counts = (
            table(spark, sf_dir, tbl)
            .groupBy(F.col(col).alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # window over the O(#values) aggregate — the sweep-allowed shape
        wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        with_tot = counts.select("cnt", F.sum("cnt").over(wall).alias("tot"))
        p = F.col("cnt").cast("double") / F.col("tot")
        branch = (
            with_tot.select(
                F.round(-p * F.log(p) * 1e9).cast("long").alias("nanos"),
                "cnt",
            )
            .agg(
                F.sum("cnt").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
                F.sum("nanos").cast("long").alias("entropy_nanos"),
            )
            .select(
                F.lit(f"{tbl}.{col}").alias("col_name"),
                "n_rows",
                "n_distinct",
                "entropy_nanos",
            )
        )
        out = branch if out is None else out.unionAll(branch)
    return out


@query(
    "weighted_sample_topk",
    oracle="""
    WITH s AS (
      SELECT o_orderkey, o_totalprice AS weight,
             CAST(ROUND(ln((('0x' || substr(md5('ws' || CAST(o_orderkey AS VARCHAR)),
                                            1, 8))::BIGINT + 1) / 4294967296.0)
                        / o_totalprice * 1e9) AS BIGINT) AS es_nanos
      FROM orders
    )
    SELECT o_orderkey, weight, es_nanos
    FROM s ORDER BY es_nanos DESC, o_orderkey LIMIT 100
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 sampling: weight-proportional sample WITHOUT replacement
    (Efraimidis-Spirakis A-ES) of 100 orders, weight = order value —
    the importance-sampling primitive behind value-weighted corpus
    mixing (sample_hash_topk is its uniform sibling). The classic key
    u^(1/w) is carried in the LOG domain: es = ln(u)/w, with u a
    portable md5-derived dyadic rational (h+1)/2^32 in (0, 1] — exact
    in a double, identical bits on both engines — so ln parity (the
    BM25 precedent) plus one division by the weight gives a
    deterministic int-nanos key; top-k by (key DESC, id). Inclusion
    probability is proportional to weight, and the sample is
    content-stable: corpus growth never reassigns an existing row's
    key.

    Scale shape: the key is a pure per-row expression; the cut is
    TakeOrdered (per-partition top-100 then merge of 100-row heads) —
    the same never-a-global-sort discipline as sample_hash_topk."""
    h = md5_int("ws", F.col("o_orderkey"))
    u = (h + 1).cast("double") / F.lit(4294967296.0)
    es = F.round(F.log(u) / F.col("o_totalprice") * 1e9).cast("long")
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("weight"),
            es.alias("es_nanos"),
        )
        .orderBy(F.desc("es_nanos"), "o_orderkey")
        .limit(100)
    )


@query(
    "dq_expectations",
    oracle="""
    SELECT 1 AS rule_id, 'orders.o_orderkey not_null' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT)
             AS n_violations
    FROM orders
    UNION ALL
    SELECT 2, 'orders.o_orderkey unique',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 3, 'orders.o_totalprice in [0, 1000000]',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE o_totalprice < 0
                                    OR o_totalprice > 1000000) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 4, 'lineitem.l_orderkey fk orders.o_orderkey',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 5, 'orders.o_orderdate in [1992, 2002)',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1992-01-01'
                                    OR o_orderdate >= TIMESTAMP '2002-01-01')
                AS BIGINT)
    FROM orders
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 intake: a Deequ/Great-Expectations-style data-quality rule
    sweep — not-null, uniqueness, numeric range, referential integrity
    (FK orphans), and date-domain checks, each emitting (n_checked,
    n_violations) so the gate is a threshold on a table, not a crash
    in a job. Uniqueness is COUNT(*) - COUNT(DISTINCT) (no groupBy
    materialization of per-key counts); the FK check is a left join
    counting null probes — at 100 TB that is the only rule with a
    shuffle, and it is the standard keyed equi-join (broadcast when
    the dimension fits).

    Scale shape: rules 1/2/3/5 are single map-side-combinable
    aggregates over column-pruned scans (2 shares 3's scan via
    Catalyst CTE reuse is not required — each is one pass); the union
    is across RULES, not data. The output is O(#rules) rows."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    def rule(rid: int, name: str, df: DataFrame, viol) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_checked"),
            F.count_if(viol).cast("long").alias("n_violations"),
        ).select(
            F.lit(rid).cast("long").alias("rule_id"),
            F.lit(name).alias("rule"),
            "n_checked",
            "n_violations",
        )

    r1 = rule(1, "orders.o_orderkey not_null", orders, F.col("o_orderkey").isNull())
    r2 = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("n_violations"),
    ).select(
        F.lit(2).cast("long").alias("rule_id"),
        F.lit("orders.o_orderkey unique").alias("rule"),
        "n_checked",
        "n_violations",
    )
    r3 = rule(
        3,
        "orders.o_totalprice in [0, 1000000]",
        orders,
        (F.col("o_totalprice") < 0) | (F.col("o_totalprice") > 1000000),
    )
    fk = li.join(
        orders.select(F.col("o_orderkey").alias("_fk")),
        li.l_orderkey == F.col("_fk"),
        "left",
    )
    r4 = rule(
        4, "lineitem.l_orderkey fk orders.o_orderkey", fk, F.col("_fk").isNull()
    )
    r5 = rule(
        5,
        "orders.o_orderdate in [1992, 2002)",
        orders,
        (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
        | (F.col("o_orderdate") >= F.lit("2002-01-01").cast("timestamp")),
    )
    return r1.unionAll(r2).unionAll(r3).unionAll(r4).unionAll(r5)


# Target compacted-file size for compaction_bin_pack, in rows (stands in
# for the byte target a real OPTIMIZE uses; the planning math is
# identical for any integer size column).
_COMPACT_TARGET_ROWS = 256


@query(
    "compaction_bin_pack",
    oracle=f"""
    WITH files AS (
      SELECT l_returnflag AS part_key, l_shipdate AS file_id,
             CAST(COUNT(*) AS BIGINT) AS size_rows
      FROM lineitem GROUP BY 1, 2
    ),
    laid AS (
      SELECT part_key, file_id, size_rows,
             SUM(size_rows) OVER (
               PARTITION BY part_key
               ORDER BY size_rows DESC, file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM files
    )
    SELECT part_key,
           CAST((cum - size_rows) // {_COMPACT_TARGET_ROWS} AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(size_rows) AS BIGINT) AS rows_total,
           CAST(MAX(size_rows) AS BIGINT) AS largest_file,
           CAST(MIN(size_rows) AS BIGINT) AS smallest_file
    FROM laid
    GROUP BY part_key, bin
    """,
)
def compaction_bin_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 storage maintenance: small-file COMPACTION PLANNING — the
    Delta/Iceberg `OPTIMIZE` planning step that groups a table
    partition's many small files into target-sized rewrite groups.
    The file inventory is modeled as the per-(l_returnflag,
    l_shipdate) row counts (one "file" per ingest day per partition,
    the shape a daily append job leaves behind); the plan lays files
    end-to-end in size-DESC order (big files first keeps every bin
    within one file of the target, the first-fit-decreasing
    guarantee) and assigns each file to the bin its START offset
    falls in — `pack_sequences`' offset math applied to a derived
    inventory rather than raw rows, so the whole plan is prefix
    arithmetic, no sequential bin-state loop.

    Scale shape (100 TB): the inventory build is ONE
    map-side-combinable aggregate (file metadata is O(#files), not
    O(rows) — in production it comes straight from the table
    manifest, skipping the scan entirely); the layout window is
    partitioned by the table-partition key, so partitions plan
    independently and in parallel, and the output is O(#bins) rows.
    Integer cumsum over a unique (size DESC, file_id) order is exact
    on both engines."""
    files = (
        table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("part_key"),
            F.col("l_shipdate").alias("file_id"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("size_rows"))
    )
    w = (
        W.partitionBy("part_key")
        .orderBy(F.col("size_rows").desc(), F.col("file_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    laid = files.select(
        "part_key",
        "size_rows",
        (F.sum("size_rows").over(w) - F.col("size_rows")).alias("start_off"),
    )
    return (
        laid.select(
            "part_key",
            "size_rows",
            F.expr(f"start_off div {_COMPACT_TARGET_ROWS}").cast("long").alias("bin"),
        )
        .groupBy("part_key", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("size_rows").cast("long").alias("rows_total"),
            F.max("size_rows").cast("long").alias("largest_file"),
            F.min("size_rows").cast("long").alias("smallest_file"),
        )
    )


@query(
    "k_anonymity_audit",
    oracle="""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000 AS bal_band,
             c_custkey
      FROM customer
    ),
    g AS (
      SELECT c_nationkey, c_mktsegment, bal_band,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM qi GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below_5,
           CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(SUM(k) AS BIGINT) AS n_rows
    FROM g
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY audit — the privacy-governance gate a dataset
    passes before release: group by the quasi-identifier tuple
    (nation, market segment, $1000 balance band) and report the
    smallest equivalence class, plus how many classes and rows fall
    below k=5 (the re-identifiable population a generalization ladder
    must widen away). Complements `text_pii_mask` (direct identifiers)
    with the QUASI-identifier risk the masking step cannot see.

    Scale shape: ONE map-side-combinable aggregate onto the QI tuple,
    one 1-row reduction over the O(#classes) table. At 100 TB the QI
    histogram IS the audit — no row-level data leaves the executors."""
    g = (
        table(spark, sf_dir, "customer")
        .groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) div 100000").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("k").cast("long").alias("min_k"),
        F.count_if(F.col("k") < 5).cast("long").alias("n_groups_below_5"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.sum("k").cast("long").alias("n_rows"),
    )


@query(
    "neyman_allocation",
    oracle="""
    WITH m AS (
      SELECT o_orderstatus AS stratum,
             CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS HUGEINT) AS s,
             CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS HUGEINT)
                           * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                  AS BIGINT) AS HUGEINT)) AS HUGEINT) AS q
      FROM orders GROUP BY 1
    ),
    w AS (
      SELECT stratum, nh,
             CAST(ROUND(SQRT(CAST((nh * q - s * s) // (nh * nh) AS DOUBLE))
                        * 1e9) AS BIGINT) AS sd_nanos
      FROM m
    ),
    t AS (
      SELECT stratum, nh, sd_nanos,
             CAST(nh AS HUGEINT) * sd_nanos AS num,
             SUM(CAST(nh AS HUGEINT) * sd_nanos) OVER () AS den
      FROM w
    ),
    b AS (
      SELECT stratum, nh, sd_nanos,
             CAST((num * 1000) // den AS BIGINT) AS base,
             CAST((num * 1000) % den AS HUGEINT) AS rem,
             CAST(1000 - SUM((num * 1000) // den) OVER () AS BIGINT) AS extra
      FROM t
    )
    SELECT stratum, nh, sd_nanos,
           base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, stratum)
                            <= extra THEN 1 ELSE 0 END AS n_alloc
    FROM b
    """,
)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN (optimal) STRATIFIED-SAMPLE ALLOCATION — the sampling
    design step before any stratified draw (`sample_stratified` takes
    quotas; this computes them): allocate a budget of 1000 samples
    across order-status strata proportional to N_h * S_h (big AND
    variable strata earn more), with the integer seats assigned by the
    LARGEST-REMAINDER method — floor shares first, leftover seats to
    the largest fractional remainders (tie: stratum name) — so the
    allocations are integers that sum exactly to the budget on both
    engines. S_h's variance is reduced to an EXACT
    integer (floor((n*q - s^2) / n^2), < 2^53 so the int->double
    conversion is exact) before the single IEEE sqrt — the raw moment
    difference exceeds 2^53 and its conversion rounding diverged
    between engines by 1 ulp; nanos-quantized BEFORE entering the
    allocation integers.

    Scale shape: one map-side-combinable moment aggregate (3 strata),
    then O(#strata) window arithmetic. The design costs one scan."""
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    m = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("stratum"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("nh"),
            F.sum(cents.cast("decimal(38,0)")).alias("s"),
            F.sum((cents.cast("decimal(38,0)") * cents)).alias("q"),
        )
    )
    w = m.select(
        "stratum",
        "nh",
        # exact-integer variance FIRST (fits 2^53, so the double
        # conversion is exact), then one IEEE sqrt/multiply — the raw
        # nh*q - s*s here exceeds 2^53 and its int->double rounding
        # diverged between engines by 1 ulp
        F.expr("ROUND(SQRT(CAST((nh * q - s * s) div (nh * nh) AS DOUBLE)) * 1e9)")
        .cast("long")
        .alias("sd_nanos"),
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    t = w.select(
        "stratum",
        "nh",
        "sd_nanos",
        (F.col("nh").cast("decimal(38,0)") * F.col("sd_nanos")).alias("num"),
        F.sum(F.col("nh").cast("decimal(38,0)") * F.col("sd_nanos"))
        .over(wall)
        .alias("den"),
    )
    b = t.select(
        "stratum",
        "nh",
        "sd_nanos",
        F.expr("(num * 1000) div den").cast("long").alias("base"),
        F.expr("(num * 1000) % den").alias("rem"),
        (F.lit(1000) - F.sum(F.expr("(num * 1000) div den")).over(wall))
        .cast("long")
        .alias("extra"),
    )
    rk = F.row_number().over(W.orderBy(F.desc("rem"), "stratum"))
    return b.select(
        "stratum",
        "nh",
        "sd_nanos",
        (F.col("base") + F.when(rk <= F.col("extra"), 1).otherwise(0))
        .cast("long")
        .alias("n_alloc"),
    )


@query(
    "l_diversity_audit",
    oracle="""
    WITH qi AS (
      SELECT c_nationkey,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000
               AS bal_band,
             c_mktsegment
      FROM customer
    ),
    g AS (
      SELECT c_nationkey, bal_band,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l
      FROM qi GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_homogeneous_groups,
           CAST(SUM(CASE WHEN l < 2 THEN k ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk
    FROM g
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY audit — k-anonymity's necessary companion: a large
    equivalence class is still unsafe if its SENSITIVE attribute is
    homogeneous (everyone in the class shares the value, so linking
    any member discloses it). QI here is (nation, $1000 balance band);
    the sensitive attribute is the market segment; the audit reports
    the least-diverse class and the homogeneous (l = 1) population.

    Scale shape: one aggregate onto the QI tuple with a distinct-count
    (partial+final combinable), one 1-row reduction — the same
    histogram-is-the-audit shape as `k_anonymity_audit`."""
    g = (
        table(spark, sf_dir, "customer")
        .groupBy(
            "c_nationkey",
            F.expr(
                "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) div 100000"
            ).alias("bal_band"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.count_distinct("c_mktsegment").cast("long").alias("l"),
        )
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("l").cast("long").alias("min_l"),
        F.count_if(F.col("l") < 2).cast("long").alias("n_homogeneous_groups"),
        F.sum(F.when(F.col("l") < 2, F.col("k")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
    )


@query(
    "t_closeness_audit",
    oracle="""
    WITH qi AS (
      SELECT c_nationkey,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000
               AS bal_band,
             c_mktsegment AS seg
      FROM customer
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM qi),
    gseg AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS cs FROM qi GROUP BY seg),
    gs AS (
      SELECT c_nationkey, bal_band, seg, CAST(COUNT(*) AS BIGINT) AS cgs
      FROM qi GROUP BY 1, 2, 3
    ),
    g AS (
      SELECT c_nationkey, bal_band,
             CAST(SUM(cgs) AS BIGINT) AS k,
             CAST(SUM(CAST(abs(gs.cgs * n.n - gl.cs * kk.k) AS HUGEINT))
                  AS HUGEINT) AS s_present,
             CAST(SUM(gl.cs) AS BIGINT) AS mass_present
      FROM gs
      JOIN gseg gl ON gl.seg = gs.seg
      CROSS JOIN n
      JOIN (SELECT c_nationkey AS nk, bal_band AS bb,
                   CAST(SUM(cgs) AS BIGINT) AS k
            FROM gs GROUP BY 1, 2) kk
        ON kk.nk = gs.c_nationkey AND kk.bb = gs.bal_band
      GROUP BY gs.c_nationkey, gs.bal_band
    ),
    tv AS (
      SELECT g.c_nationkey, g.bal_band, g.k,
             g.s_present + CAST(n.n - g.mass_present AS HUGEINT) * g.k AS s
      FROM g CROSS JOIN n
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MAX((tv.s * 1000000000) // (2 * tv.k * n.n)) AS BIGINT)
             AS max_tv_nanos,
           CAST(SUM(CASE WHEN 5 * tv.s > 2 * tv.k * n.n THEN 1 ELSE 0 END)
                AS BIGINT) AS n_groups_above_t,
           CAST(SUM(CASE WHEN 5 * tv.s > 2 * tv.k * n.n THEN tv.k ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk
    FROM tv CROSS JOIN n
    GROUP BY n.n
    """,
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-CLOSENESS audit — the third privacy gate after
    `k_anonymity_audit` and `l_diversity_audit`: an equivalence class
    can be large (k ok) and varied (l ok) yet still disclosive if its
    SENSITIVE-attribute distribution differs sharply from the table's
    (skewness attack: a class that is 90% one segment tells you the
    segment with 90% confidence). For a categorical sensitive
    attribute the prescribed EMD is total-variation distance,
    TV_g = Σ_s |c_gs/k − c_s/n| / 2 — kept exact by clearing
    denominators: S_g = Σ_s |c_gs·n − c_s·k| (the wasserstein_1d_drift
    technique), with the ABSENT-segment mass folded in closed form
    ((n − Σ_present c_s)·k — no group×segment cross join). The audit
    flags TV > 0.2 by the integer cross-comparison 5·S > 2·k·n and
    reports the worst class's TV in int-nanos.

    Scale shape: two hash aggregates (global histogram O(#segments),
    per-class histogram O(#classes·#segments)), one broadcast probe,
    one 1-row reduction. No windows, nothing pairwise."""
    qi = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.expr(
            "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) div 100000"
        ).alias("bal_band"),
        F.col("c_mktsegment").alias("seg"),
    )
    n = qi.agg(F.count(F.lit(1)).cast("long").alias("n"))
    glob = qi.groupBy("seg").agg(F.count(F.lit(1)).cast("long").alias("cs"))
    gs = qi.groupBy("c_nationkey", "bal_band", "seg").agg(
        F.count(F.lit(1)).cast("long").alias("cgs")
    )
    kk = gs.groupBy("c_nationkey", "bal_band").agg(
        F.sum("cgs").cast("long").alias("k")
    )
    joined = (
        gs.join(F.broadcast(glob), "seg")
        .join(kk, ["c_nationkey", "bal_band"])
        .crossJoin(F.broadcast(n))
    )
    g = joined.groupBy("c_nationkey", "bal_band", "k", "n").agg(
        F.sum(
            F.abs(
                F.col("cgs").cast(_D38) * F.col("n")
                - F.col("cs").cast(_D38) * F.col("k")
            )
        )
        .cast(_D38)
        .alias("s_present"),
        F.sum("cs").cast("long").alias("mass_present"),
    )
    tv = g.select(
        "k",
        "n",
        (
            F.col("s_present")
            + (F.col("n") - F.col("mass_present")).cast(_D38) * F.col("k")
        )
        .cast(_D38)
        .alias("s"),
    )
    return tv.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.max(F.expr("(s * 1000000000) div (2 * k * n)"))
        .cast("long")
        .alias("max_tv_nanos"),
        F.sum(F.when(F.expr("5 * s > 2 * CAST(k AS decimal(38,0)) * n"), 1).otherwise(0))
        .cast("long")
        .alias("n_groups_above_t"),
        F.sum(
            F.when(
                F.expr("5 * s > 2 * CAST(k AS decimal(38,0)) * n"), F.col("k")
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_rows_at_risk"),
    ).drop("n")


# LLM training-mix weights in permille, summing to 1000. Domain
# constants of the curation recipe (not data-derived): upsampling
# high-resource English and balancing the rest is the standard
# mixture shape.
_MIX_WEIGHTS = (("en", 500), ("fr", 150), ("de", 150), ("es", 100), ("zh", 100))


def _mixture_oracle() -> str:
    w_vals = ", ".join(f"('{k}', {v})" for k, v in _MIX_WEIGHTS)
    return f"""
    WITH w(lang, permille) AS (VALUES {w_vals}),
    tgt AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS n_target FROM documents),
    quota AS (
      SELECT w.lang, CAST((w.permille * tgt.n_target) // 1000 AS BIGINT)
               AS quota
      FROM w, tgt
    ),
    ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rk
      FROM documents
    ),
    sel AS (
      SELECT r.lang, CAST(COUNT(*) AS BIGINT) AS n_selected,
             CAST(SUM(r.doc_id) AS BIGINT) AS docid_sum
      FROM ranked r JOIN quota q ON q.lang = r.lang AND r.rk <= q.quota
      GROUP BY r.lang
    ),
    avail AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_available
      FROM documents GROUP BY lang
    )
    SELECT q.lang, q.quota,
           COALESCE(s.n_selected, 0) AS n_selected,
           q.quota - COALESCE(s.n_selected, 0) AS deficit,
           a.n_available,
           COALESCE(s.docid_sum, 0) AS docid_sum
    FROM quota q
    LEFT JOIN sel s ON s.lang = q.lang
    JOIN avail a ON a.lang = q.lang
    ORDER BY q.lang
    """


@query("dataset_mixture_manifest", oracle=_mixture_oracle())
def dataset_mixture_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-MIX MANIFEST — the epoch-composition step of an LLM
    data pipeline: given permille mixture weights per language (the
    curation recipe's domain constants) and a target epoch size (half
    the corpus, data-derived), select each language's quota as its
    smallest-md5 documents (content-hash selection — growth-stable and
    engine-portable like split_assign: re-running on a grown corpus
    keeps previously selected docs selected as long as they stay in
    the quota prefix). Quotas a language cannot fill surface as
    `deficit` instead of silently rebalancing — the honest readout an
    under-resourced language needs; docid_sum is the manifest checksum
    (selection is exactly reproducible, not just counted).

    Scale shape: the per-language rank is a partitioned window →
    WindowGroupLimit once the quota probe is pushed (per-language
    top-N, map-side partial); quotas are an O(#langs) broadcast; two
    hash aggregates end it. Nothing global-sorted."""
    docs = table(spark, sf_dir, "documents")
    # target size + quotas computed driver-side (one bounded count
    # action): the rank cut below needs a LITERAL bound to compile to
    # WindowGroupLimit — a joined quota column forces the full
    # per-language window instead of the map-side partial top-N
    # (plan pinned in tests/test_round12_ops.py)
    n_target = docs.count() // 2
    quotas = {k: (v * n_target) // 1000 for k, v in _MIX_WEIGHTS}
    from ..plans.localrel import local_rows_df

    quota = local_rows_df(
        docs.sparkSession, [(k, q) for k, q in quotas.items()], "lang string, quota long"
    )
    ranked = docs.select(
        "lang",
        "doc_id",
        F.row_number()
        .over(
            W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        )
        .alias("rk"),
    ).where(F.col("rk") <= F.lit(max(quotas.values())))  # WindowGroupLimit
    sel = (
        ranked.join(F.broadcast(quota), "lang")
        .where(F.col("rk") <= F.col("quota"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.sum("doc_id").cast("long").alias("docid_sum"),
        )
    )
    avail = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_available")
    )
    return (
        quota.join(sel, "lang", "left")
        .join(avail, "lang")
        .select(
            "lang",
            "quota",
            F.coalesce("n_selected", F.lit(0)).cast("long").alias("n_selected"),
            (F.col("quota") - F.coalesce("n_selected", F.lit(0)))
            .cast("long")
            .alias("deficit"),
            "n_available",
            F.coalesce("docid_sum", F.lit(0)).cast("long").alias("docid_sum"),
        )
        .orderBy("lang")
    )


_PACK_BUDGET = 512  # tokens per packed training sequence


@query(
    "sequence_packing_shelf",
    oracle=f"""
    WITH n AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                  AS BIGINT) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok AS cum_before
      FROM n
    ),
    spans AS (
      SELECT doc_id, n_tok,
             cum_before // {_PACK_BUDGET} AS first_pack,
             (cum_before + n_tok - 1) // {_PACK_BUDGET} AS last_pack
      FROM c WHERE n_tok > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST((SUM(n_tok) + {_PACK_BUDGET} - 1) // {_PACK_BUDGET} AS BIGINT)
             AS n_packs,
           CAST(SUM(CASE WHEN last_pack > first_pack THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_straddling,
           CAST((SUM(n_tok) * 1000000)
                // (((SUM(n_tok) + {_PACK_BUDGET} - 1) // {_PACK_BUDGET})
                    * {_PACK_BUDGET}) AS BIGINT) AS fill_micros
    FROM spans
    """,
)
def sequence_packing_shelf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING audit for LLM pretraining — the GPT-style
    concatenate-and-chop layout: documents concatenated in a
    deterministic order (doc_id) into one token stream, cut into
    {_PACK_BUDGET}-token training sequences; a document occupies
    [cum_before, cum_before + n) and STRADDLES a boundary when its
    first and last pack differ (the attention-contamination the
    packing mask must handle — this operator counts exactly how much
    of it the corpus produces). Reports pack count, straddler count,
    and the fill rate in int-micros (the only waste under
    concatenation is the final partial pack, but the fill rate is the
    denominator every smarter packer is judged against).

    Scale shape: token counts are one map-side pass; the global
    running offset is `bucketed_prefix_sum` over doc_id band buckets
    (per-bucket totals → broadcast offsets → in-bucket partitioned
    cumsum — never one WindowExec partition); the readout is a 1-row
    aggregate."""
    from ..functions.ranking import bucketed_prefix_sum

    n = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda t: t != "")
        )
        .cast("long")
        .alias("n_tok"),
    )
    c = bucketed_prefix_sum(
        n,
        bucket=F.expr("doc_id div 1000"),
        order=[F.col("doc_id")],
        val=F.col("n_tok"),
    ).withColumn("cum_before", F.col("cum") - F.col("n_tok"))
    spans = c.where(F.col("n_tok") > 0).select(
        "n_tok",
        F.expr(f"cum_before div {_PACK_BUDGET}").alias("first_pack"),
        F.expr(f"(cum_before + n_tok - 1) div {_PACK_BUDGET}").alias("last_pack"),
    )
    return spans.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.expr(f"(SUM(n_tok) + {_PACK_BUDGET} - 1) div {_PACK_BUDGET}")
        .cast("long")
        .alias("n_packs"),
        F.sum(F.when(F.col("last_pack") > F.col("first_pack"), 1).otherwise(0))
        .cast("long")
        .alias("n_docs_straddling"),
        F.expr(
            f"(SUM(n_tok) * 1000000) div"
            f" (((SUM(n_tok) + {_PACK_BUDGET} - 1) div {_PACK_BUDGET})"
            f" * {_PACK_BUDGET})"
        )
        .cast("long")
        .alias("fill_micros"),
    )


sequence_packing_shelf.__doc__ = sequence_packing_shelf.__doc__.format(
    _PACK_BUDGET=_PACK_BUDGET
)


@query(
    "dp_sensitivity_census",
    oracle="""
    WITH e AS (
      SELECT event_type, user_id,
             ABS(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
      FROM events
    ),
    u AS (
      SELECT event_type, user_id, CAST(SUM(cents) AS BIGINT) AS contrib
      FROM e GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MAX(contrib) AS BIGINT) AS sensitivity_cents,
           CAST(COUNT(*) FILTER (WHERE contrib > 10000) AS BIGINT) AS n_clipped,
           CAST(SUM(CASE WHEN contrib > 10000 THEN contrib - 10000 ELSE 0 END)
                AS BIGINT) AS clipped_mass_cents,
           CAST(SUM(LEAST(contrib, 10000)) AS BIGINT) AS clipped_sum_cents
    FROM u GROUP BY event_type
    """,
)
def dp_sensitivity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENTIAL-PRIVACY SENSITIVITY CENSUS — the deterministic half
    of releasing a per-group SUM under user-level DP, joining the
    k-anonymity / l-diversity / t-closeness audits as the privacy
    family's fourth readout. Per event type: the EXACT L1 sensitivity
    of SUM(|value|) to removing one user (= the max single-user
    contribution), plus what a clipping bound of 100.00 (the
    contribution cap a DP aggregation would enforce before adding
    noise) costs: how many users clip, the mass the clip discards, and
    the clipped sum the noise would be added to. The noise itself is
    random by definition — rows-only territory — but bound selection
    is exactly this census, and it value-hashes.

    Scale shape (100 TB): one (group, user)-keyed aggregate reduces the
    log to O(#users x #groups) rows, then one group-keyed aggregate —
    both map-side combinable; nothing is per-event after the first
    partial aggregate."""
    u = (
        table(spark, sf_dir, "events")
        .select(
            "event_type",
            "user_id",
            F.abs((dec2("value") * 100).cast("long")).alias("cents"),
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("cents").cast("long").alias("contrib"))
    )
    clip = F.lit(10000).cast("long")
    return u.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.max("contrib").cast("long").alias("sensitivity_cents"),
        F.sum(F.when(F.col("contrib") > clip, 1).otherwise(0))
        .cast("long")
        .alias("n_clipped"),
        F.sum(
            F.when(F.col("contrib") > clip, F.col("contrib") - clip).otherwise(0)
        )
        .cast("long")
        .alias("clipped_mass_cents"),
        F.sum(F.least(F.col("contrib"), clip)).cast("long").alias(
            "clipped_sum_cents"
        ),
    )


_BLOOM_M = 1 << 20  # bit-array size
_BLOOM_K = 4  # hash functions = md5 8-hex slices


def _bloom_bits_sql(key_expr: str, source: str) -> str:
    """The k md5-slice bit positions of a key (DuckDB fragment): one
    UNION ALL branch per hash function, each with its own FROM."""
    return " UNION ALL ".join(
        f"SELECT {key_expr} AS key, ('0x' || substr(md5('b{i}:' ||"
        f" CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT % {_BLOOM_M} AS bit"
        f" {source}"
        for i in range(_BLOOM_K)
    )


@query(
    "bloom_fpr_calibration",
    oracle=f"""
    WITH tr_bits AS MATERIALIZED (
      SELECT DISTINCT bit FROM (
        {_bloom_bits_sql("o_orderkey", "FROM orders WHERE o_orderkey % 2 = 0")}
      )
    ),
    probe_bits AS MATERIALIZED (
      SELECT key, bit FROM (
        {_bloom_bits_sql("o_orderkey", "FROM orders WHERE o_orderkey % 2 = 1")}
      )
    ),
    probe AS (
      SELECT p.key,
             CAST(COUNT(DISTINCT p.bit) AS BIGINT) AS n_bits,
             CAST(COUNT(DISTINCT CASE WHEN t.bit IS NOT NULL
                                      THEN p.bit END) AS BIGINT) AS n_hit
      FROM probe_bits p LEFT JOIN tr_bits t ON t.bit = p.bit
      GROUP BY p.key
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
             CAST(COUNT(*) FILTER (WHERE n_hit = n_bits) AS BIGINT) AS n_fp
      FROM probe
    ),
    load AS (SELECT CAST(COUNT(*) AS BIGINT) AS bits_set FROM tr_bits)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey % 2 = 0) AS n_inserted,
           load.bits_set,
           CAST((1000000 * load.bits_set) // {_BLOOM_M} AS BIGINT)
             AS load_micros,
           agg.n_probes,
           agg.n_fp,
           CAST((1000000 * agg.n_fp) // agg.n_probes AS BIGINT)
             AS fpr_micros
    FROM agg, load
    """,
)
def bloom_fpr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER FALSE-POSITIVE CALIBRATION — the fourth estimator
    audit beside minhash/countmin/simhash: build an m=2^20, k=4 Bloom
    filter over the even order keys from md5-slice bit positions (the
    portable-hash discipline — both engines derive IDENTICAL bits, so
    the whole filter is value-hash checkable, unlike an engine-local
    bloom binary), probe with the DISJOINT odd keys, and report the
    measured load factor and empirical FPR — the numbers that tell you
    whether the m/k you chose for join_bloom_runtime_filter's sketch
    or an Iceberg bloom column actually delivers its contract. A probe
    is a false positive iff ALL its k bits are set (every probe key is
    a true negative by construction).

    Scale shape: the filter is a DISTINCT over k map-side-generated
    bit rows per key (the bit table is bounded by m BY CONSTRUCTION,
    never by data); probing is one equi-join on bit position + a
    per-key counting aggregate — no bit-array state, no driver
    anything; at 100 TB the same plan emits the real bitmap via a
    bit-packing aggregate."""
    keys = table(spark, sf_dir, "orders").select("o_orderkey")

    def bits(df: DataFrame) -> DataFrame:
        out = None
        for i in range(_BLOOM_K):
            b = df.select(
                F.col("o_orderkey").alias("key"),
                (md5_int(f"b{i}:", F.col("o_orderkey")) % _BLOOM_M).alias("bit"),
            )
            out = b if out is None else out.unionByName(b)
        return out

    tr_keys = keys.where(F.col("o_orderkey") % 2 == 0)
    tr_bits = bits(tr_keys).select("bit").distinct()
    probe_bits = bits(keys.where(F.col("o_orderkey") % 2 == 1))
    probe = (
        probe_bits.join(
            tr_bits.withColumn("hit", F.lit(1)), "bit", "left"
        )
        .groupBy("key")
        .agg(
            F.count_distinct("bit").cast("long").alias("n_bits"),
            F.count_distinct(F.when(F.col("hit").isNotNull(), F.col("bit")))
            .cast("long")
            .alias("n_hit"),
        )
    )
    agg = probe.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(F.when(F.col("n_hit") == F.col("n_bits"), 1).otherwise(0))
        .cast("long")
        .alias("n_fp"),
    )
    load = tr_bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    n_ins = tr_keys.agg(F.count(F.lit(1)).cast("long").alias("n_inserted"))
    return (
        n_ins.crossJoin(F.broadcast(load))
        .crossJoin(F.broadcast(agg))
        .select(
            "n_inserted",
            "bits_set",
            F.expr(f"CAST((1000000 * bits_set) div {_BLOOM_M} AS BIGINT)").alias(
                "load_micros"
            ),
            "n_probes",
            "n_fp",
            F.expr("CAST((1000000 * n_fp) div n_probes AS BIGINT)").alias(
                "fpr_micros"
            ),
        )
    )
