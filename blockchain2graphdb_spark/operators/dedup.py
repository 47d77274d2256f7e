"""Deduplication family (SURVEY.md §2.13 X1/X2): exact, MinHash-LSH,
SimHash, and n-gram Jaccard — the training-data-pipeline operators, each
designed so the 100 TB form is an equi-join on a computed key (hash,
band signature) rather than any pairwise comparison.

The reference's dedup story is per-row existence probes before insert
(M1, B:176 etc.); `dedup_exact` is its set-oriented generalization, and
the near-dup variants extend it to similarity classes the reference
cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..exact import hex_int, md5_int
from ..graph.components import connected_components
from ..registry import query

# MinHash parameters: 32 permutations h_i(x) = (a_i*x + b_i) mod p over a
# 31-bit base hash, banded 8×4 for LSH candidate generation.
_MH_PERMS = 32
_MH_BAND_SIZE = 4
_MH_PRIME = 2147483647  # 2^31 - 1; keeps a_i * h + b_i inside 63 bits (ANSI-safe)


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fp, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact dedup — hash-groupBy keyed on content, keeper = min id.

    At 100 TB: group on md5/xxhash of content (never the raw payload) so
    the shuffle carries 16 bytes per row, then semi-join keepers back.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
    )


def _fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Spread a small single-split input across the cluster before a
    CPU-heavy explode. Fixture-sized parquet arrives as ONE split, so
    the shingle/hash explode — the dominant cost of every dedup
    pipeline — would run on one core while 31 idle. Gated on the
    planned partition count: at real scale the scan already has many
    splits and this adds NO shuffle; below the gate the shuffled bytes
    are trivially small (measured 3.8s → 0.8s for the sf0.1 shingle
    stage)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, *keys) if keys else df.repartition(par)
    return df


def _band_pairs(bands: DataFrame) -> DataFrame:
    """Candidate pairs from band signatures by PER-BUCKET combination
    expansion (r17, VERDICT r16 #5): group on (band, sig), sorted
    member array, ordered (a<b) pairs exploded map-side. Replaces the
    band self-join, whose two references to `bands` executed the
    minhash projection TWICE — profiled at sf0.1 as two 9-11 s
    executor-runtime stages (the 32 array_min(transform(...)) perms per
    side) feeding one exchange each. The grouped form evaluates the
    projection once and needs ONE exchange. Candidate set identical:
    pairs sharing a (band, sig) bucket, canonical a<b (sorted array +
    forward slice ≡ l.doc_id < r.doc_id). Skew bound unchanged: a
    degenerate all-identical bucket lands on one task in either form
    (the self-join hashed that bucket's key to one task too), and
    near-dup bucket sizes — not catalog size — bound the per-group
    fanout."""
    return (
        bands.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .where(F.size("ds") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) ->"
                    " transform(slice(ds, i + 2, size(ds) - i - 1),"
                    " y -> struct(x as a, y as b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )


def _tokens(col):
    return F.split(col, " ")


def _shingles(tokens_col):
    """3-word shingles from a token array (pure higher-order functions)."""
    n = F.size(tokens_col)
    return F.when(n >= 3, F.transform(
        F.sequence(F.lit(0), n - 3),
        lambda i: F.concat_ws(" ", F.slice(tokens_col, i + 1, 3)),
    )).otherwise(F.array(F.concat_ws(" ", tokens_col)))


@query("dedup_minhash")  # rows-only: engine-specific base hash (xxhash64)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: MinHash + LSH near-dup clustering over the documents fixture.

    Pipeline in `minhash_clusters` (reused by tests with synthetic
    near-dup corpora, where the fixture corpus has none).
    """
    return minhash_clusters(table(spark, sf_dir, "documents").select("doc_id", "text"))


def minhash_clusters(docs: DataFrame, jaccard_threshold: float = 0.5) -> DataFrame:
    """shingle → 31-bit hash → 32 minhash perms → 8 bands of 4 → band-key
    equi-join for candidates → exact Jaccard (≥ threshold) verify →
    connected components (graph/components.py, reusing the
    wallet-clustering machinery) → (doc_id, cluster_id, cluster_size).

    Every stage is a groupBy or equi-join: at 100 TB nothing is pairwise
    except verification *within candidate buckets*. The minhash pass is
    entirely MAP-SIDE: the distinct shingle hashes stay an array column
    and each permutation is an `array_min(transform(...))` higher-order
    function — no explode, no 32-way groupBy shuffle; the only wide
    stages are the band self-join and the candidate verify join, and
    the verify shuffles one hash ARRAY per doc instead of the exploded
    (doc, shingle) stream (the exploded form is ~|doc| rows/doc).
    """
    # distinct hashed shingles per doc as an array column, computed once
    # and reused by the minhash projection and the exact-Jaccard verify
    # (hash equality stands in for shingle equality; 31-bit collisions
    # are noise at verify thresholds)
    base = (
        _fan_out(docs, "doc_id")
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    _shingles(_tokens(F.col("text"))),
                    lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME)),
                )
            ).alias("hs"),
        )
        .localCheckpoint(eager=True)
    )

    # 32 minhash values as one map-side projection (no shuffle).
    # NB: the permutation index must be bound via a single-arg closure —
    # a `lambda h, i=i` would make F.transform pass the ARRAY POSITION
    # as the second argument, silently replacing the permutation number.
    def _perm(i: int):
        return lambda h: F.pmod(
            h * F.lit(2 * i + 1) + F.lit(7919 * i + 13), F.lit(_MH_PRIME)
        )

    mins = base.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("hs"), _perm(i))).alias(f"m{i}")
            for i in range(_MH_PERMS)
        ],
    )
    # band signatures -> candidate pairs via equi-join on (band, signature)
    n_bands = _MH_PERMS // _MH_BAND_SIZE
    # band signature = xxhash64 over the band's minhash values: an
    # 8-byte join key instead of a concatenated string (~2× faster
    # band join, and at 100 TB the shuffle carries longs, not strings;
    # a 64-bit collision adds a candidate pair that exact-Jaccard
    # verification immediately discards)
    bands = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"m{b * _MH_BAND_SIZE + j}") for j in range(_MH_BAND_SIZE)],
                        ).alias("sig"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")
    cand = _band_pairs(bands)

    # exact Jaccard verification on candidates only: join the candidate
    # pairs back to the per-doc hash arrays (AQE broadcasts the tiny
    # candidate side at any scale where dedup is sane) and compute
    # |A∩B| / |A∪B| map-side via array_intersect — the exploded
    # (doc, shingle) join + 3 bookkeeping joins of the previous form
    # collapse into 2 keyed joins and one projection
    a_side = base.select(F.col("doc_id").alias("a"), F.col("hs").alias("ha"))
    b_side = base.select(F.col("doc_id").alias("b"), F.col("hs").alias("hb"))
    n_inter = F.size(F.array_intersect(F.col("ha"), F.col("hb")))
    verified = (
        cand.join(a_side, "a")
        .join(b_side, "b")
        .where(
            n_inter.cast("double")
            / (F.size("ha") + F.size("hb") - n_inter).cast("double")
            >= jaccard_threshold
        )
        .select("a", "b")
    )

    comp = connected_components(verified, "a", "b", canonical=True)
    clustered = comp.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
    # label assignment: clustered covers only docs inside verified
    # clusters (a small table — near-dup clusters are a sliver of any
    # corpus, and AQE broadcasts it when it is; the distributed-
    # components path can legitimately return a big table, so no hard
    # broadcast hint), LEFT-joined into the checkpointed base (no
    # parquet re-scan), singletons defaulting to their own id — one
    # join instead of an anti-join + union; cluster_size via a
    # partitioned window instead of a groupBy + second join
    all_docs = (
        base.join(clustered, "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
    )
    return all_docs.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(W.partitionBy("cluster_id")).alias("cluster_size"),
    )


# Deterministic MinHash twin: md5-string minhashes (lexicographic MIN
# over lowercase-hex md5 digests is identical in any engine), 16 perms
# banded 4×4. The fixture corpus has no near-dups, so the key seeds its
# own: every base doc gets a 90%-truncation twin at doc_id+1_000_000 —
# pairs with word-shingle Jaccard ~0.85, inside LSH recall range.
_MHD_PERMS = 16
_MHD_BANDS = 4

# Shared CTE prefix (base → shingles → minhash → bands → candidates →
# Jaccard ingredients) composed into BOTH _MHD_ORACLE (pair output) and
# _DCKB_ORACLE (components + keeper selection) — one definition, so a
# cosmetic edit cannot break one derived oracle at a distance (ADVICE r6).
_MHD_CTE_PREFIX = """
WITH base AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         substr(text, 1, CAST(FLOOR(LENGTH(text) * 0.9) AS INT)) AS text
  FROM documents WHERE doc_id < 200
),
toks AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS tok FROM base
),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(tok) >= 3
                  THEN list_transform(range(1, len(tok) - 1),
                       i -> array_to_string(list_slice(tok, i, i + 2), ' '))
                  ELSE [array_to_string(tok, ' ')] END) AS g
    FROM toks
  )
),
mins AS MATERIALIZED (
  SELECT doc_id,
         {min_cols}
  FROM grams GROUP BY doc_id
),
bands AS MATERIALIZED (
  {band_union}
),
cand AS MATERIALIZED (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
),
sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT c.a, c.b, COUNT(*) AS n_inter
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.a
  JOIN grams gb ON gb.doc_id = c.b AND gb.g = ga.g
  GROUP BY c.a, c.b
)""".format(
    min_cols=",\n         ".join(
        f"MIN(md5('{j}:' || g)) AS m{j}" for j in range(_MHD_PERMS)
    ),
    band_union="\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS sig FROM mins".format(
            b=b,
            cat=" || '|' || ".join(
                f"m{b * (_MHD_PERMS // _MHD_BANDS) + j}"
                for j in range(_MHD_PERMS // _MHD_BANDS)
            ),
        )
        for b in range(_MHD_BANDS)
    ),
)

_MHD_ORACLE = (
    _MHD_CTE_PREFIX
    + """
SELECT c.a AS doc_a, c.b AS doc_b,
       ROUND(CAST(i.n_inter AS DOUBLE)
             / CAST(sa.n + sb.n - i.n_inter AS DOUBLE), 6) AS jaccard
FROM cand c
JOIN inter i ON i.a = c.a AND i.b = c.b
JOIN sizes sa ON sa.doc_id = c.a
JOIN sizes sb ON sb.doc_id = c.b
WHERE CAST(i.n_inter AS DOUBLE)
      / CAST(sa.n + sb.n - i.n_inter AS DOUBLE) >= 0.5
"""
)


@query("dedup_minhash_exact", oracle=_MHD_ORACLE)
def dedup_minhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 oracle-checked twin of dedup_minhash: the full MinHash-LSH
    pipeline — shingle → minhash → band → bucket equi-join → exact
    Jaccard verify — with every hash an md5 digest, so Spark and any
    ANSI engine produce byte-identical minhashes, identical band
    collisions, and therefore identical candidate sets. The xxhash64
    `dedup_minhash` stays the production path (8-byte keys vs 32-char
    strings); this key pins the LSH *algorithm* cross-engine, including
    which pairs the bands recall.

    Same 100 TB shape: candidates only from band-signature equi-joins,
    pairwise work confined to within-bucket verification.
    """
    base = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    trunc = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr(
            "substring(text, 1, cast(floor(length(text) * 0.9) as int))"
        ).alias("text"),
    )
    docs = base.unionByName(trunc)
    # map-side form (minhash_clusters' shape): distinct shingles stay an
    # array column; each md5 minhash is array_min(transform(...)) —
    # lexicographic MIN over md5 strings is engine-uniform, and no
    # explode/groupBy shuffle ever runs. Same values as the former
    # explode + 16-way MIN aggregation, plan-equivalence pinned by
    # tests/test_dedup_semantics.py's map-side-vs-agg test idiom.
    arr = (
        _fan_out(docs, "doc_id")
        .select(
            "doc_id",
            F.array_distinct(_shingles(_tokens(F.col("text")))).alias("gs"),
        )
        .localCheckpoint(eager=True)
    )

    def _md5_perm(j: int):
        return lambda g: F.md5(F.concat(F.lit(f"{j}:"), g).cast("binary"))

    mins = arr.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("gs"), _md5_perm(j))).alias(f"m{j}")
            for j in range(_MHD_PERMS)
        ],
    )
    per_band = _MHD_PERMS // _MHD_BANDS
    bands = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[F.col(f"m{b * per_band + j}") for j in range(per_band)],
                            ).cast("binary")
                        ).alias("sig"),
                    )
                    for b in range(_MHD_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")
    cand = _band_pairs(bands)
    # verify over shingle ARRAYS (array_intersect), same as
    # minhash_clusters: two keyed joins, no exploded-gram join
    a_side = arr.select(F.col("doc_id").alias("a"), F.col("gs").alias("ga"))
    b_side = arr.select(F.col("doc_id").alias("b"), F.col("gs").alias("gb"))
    n_inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    jac = n_inter.cast("double") / (
        F.size("ga") + F.size("gb") - n_inter
    ).cast("double")
    return (
        cand.join(a_side, "a")
        .join(b_side, "b")
        .where(jac >= 0.5)
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@query("dedup_simhash")  # rows-only: engine-specific base hash (xxhash64)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 variant: 32-bit SimHash fingerprints.

    Token-frequency-weighted ±1 vote per bit, assembled into one BIGINT.
    Near-dup candidates come from equality on 16-bit halves (hamming ≤ k
    implies equality on some band) — again an equi-join, never pairwise.
    Returns (doc_id, simhash, band0, band1).
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = _fan_out(docs, "doc_id").select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("t")
    ).where(F.col("t") != "")
    counted = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("cnt"))
    h = counted.withColumn("th", F.xxhash64("t"))
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
                .otherwise(-F.col("cnt"))
            ).alias(f"b{i}")
            for i in range(32)
        ]
    )
    simhash = sum(
        (F.when(F.col(f"b{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(32)),
        F.lit(0).cast("long"),
    )
    out = votes.select("doc_id", simhash.alias("simhash"))
    return out.select(
        "doc_id",
        "simhash",
        (F.col("simhash") % F.lit(65536)).alias("band0"),
        (F.col("simhash") / F.lit(65536)).cast("long").alias("band1"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(text) - 1), i -> substr(text, i, 3))) AS g
      FROM documents WHERE doc_id < 100
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id < 100 AND b.doc_id < 100
    ),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      FROM pairs p
      JOIN grams ga ON ga.doc_id = p.doc_a
      JOIN grams gb ON gb.doc_id = p.doc_b AND gb.g = ga.g
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
             / CAST(sa.n + sb.n - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 exact-verify primitive: character-3-gram Jaccard similarity on
    candidate pairs (here: consecutive doc_ids < 100 as the stand-in for
    an LSH candidate list). Set intersections via distinct-gram joins —
    exactly the verify stage dedup_minhash uses, made oracle-checkable."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
        ).alias("g"),
    ).distinct()
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = docs.select(F.col("doc_id").alias("doc_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"))
    pairs = a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
    ga = grams.withColumnRenamed("doc_id", "doc_a")
    gb = grams.withColumnRenamed("doc_id", "doc_b2").withColumnRenamed("g", "g2")
    inter = (
        pairs.join(ga, "doc_a")
        .join(gb, (F.col("doc_b") == F.col("doc_b2")) & (F.col("g") == F.col("g2")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na")
    sb = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            (
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("n_inter"), F.lit(0))).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


@query(
    "dedup_keep_best",
    oracle="""
    WITH fp AS (
      SELECT doc_id, n_chars, md5(lower(text)) AS fingerprint FROM documents
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY fingerprint ORDER BY n_chars DESC, doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY fingerprint) AS n_copies
      FROM fp
    )
    SELECT fingerprint, doc_id AS kept_doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 canonical selection: after exact-duplicate clustering, keep ONE
    representative per cluster — the highest-quality copy (longest, ties
    to the smallest doc_id) — and report the cluster size. This is the
    collapse step a training pipeline runs after `dedup_exact`
    identifies clusters; keep-best (not keep-first) preserves the most
    complete copy when shards carry truncated variants.

    No window, no sort: the (n_chars DESC, doc_id ASC) preference is
    packed into ONE bigint — score = n_chars << 41 | (2^41-1 - doc_id)
    — so "best copy" is a plain MAX(long), which whole-stage codegen
    keeps in HashAggregate with map-side partials (max(struct) /
    max_by would demote the whole aggregate to SortAggregate: struct
    buffers aren't hash-aggregable). Each fingerprint ships exactly one
    partial row per input partition through the single exchange — at
    100 TB a viral duplicate (million-copy boilerplate) costs one row
    per upstream partition, never a million-row sorted reducer group.
    Capacity: doc_id < 2^41 (~2.2e12 docs), n_chars < 2^21 (2 MiB) —
    raise the shift if either bound moves. The bounds are ENFORCED
    in-plan (raise_error on any out-of-range row), so capacity drift
    fails the job loudly instead of silently electing a wrong keeper;
    the check is a per-row branch inside codegen — no extra action, no
    extra shuffle. (The DuckDB oracle keeps the window formulation;
    results are identical.)
    """
    _SHIFT = 41
    _MASK = (1 << _SHIFT) - 1
    fp = table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.lower(F.col("text")).cast("binary")).alias("fingerprint"),
    )
    in_range = (
        (F.col("n_chars") >= 0)
        & (F.col("n_chars") < (1 << (63 - _SHIFT)))
        & (F.col("doc_id") >= 0)
        & (F.col("doc_id") <= _MASK)
    )
    packed = F.shiftleft(F.col("n_chars").cast("long"), _SHIFT) + (
        F.lit(_MASK) - F.col("doc_id")
    )
    score = F.when(in_range, packed).otherwise(
        F.raise_error(
            F.format_string(
                "dedup_keep_best: packed-score capacity exceeded "
                "(doc_id=%s, n_chars=%s); raise _SHIFT",
                F.col("doc_id"),
                F.col("n_chars"),
            )
        ).cast("long")
    )
    agg = fp.groupBy("fingerprint").agg(
        F.max(score).alias("s"), F.count(F.lit(1)).alias("n_copies")
    )
    return agg.select(
        "fingerprint",
        (F.lit(_MASK) - F.col("s").bitwiseAND(F.lit(_MASK))).alias("kept_doc_id"),
        F.shiftright(F.col("s"), _SHIFT).alias("n_chars"),
        F.col("n_copies").cast("long").alias("n_copies"),
    )


# Portable md5→int (exact.md5_int ≡ DuckDB '0x…'::BIGINT): both engines parse
# the same 8-hex-digit prefix to the same 32-bit value, making SimHash's
# per-bit votes engine-exact.
_SHD_BITS = 32

_SHD_ORACLE = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, t, COUNT(*) AS cnt FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
  ) WHERE t <> '' GROUP BY doc_id, t
),
hashed AS MATERIALIZED (
  SELECT doc_id, cnt, ('0x' || substr(md5(t), 1, 8))::BIGINT AS th FROM toks
),
votes AS MATERIALIZED (
  SELECT doc_id,
         {vote_cols}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id,
       CAST({sim_expr} AS BIGINT) AS simhash,
       CAST(({sim_expr}) % 65536 AS BIGINT) AS band0,
       CAST(({sim_expr}) // 65536 AS BIGINT) AS band1
FROM votes
""".format(
    vote_cols=",\n         ".join(
        f"CAST(SUM(CASE WHEN (th >> {i}) & 1 = 1 THEN cnt ELSE -cnt END) AS BIGINT) AS b{i}"
        for i in range(_SHD_BITS)
    ),
    sim_expr=" + ".join(
        f"(CASE WHEN b{i} >= 0 THEN {1 << i} ELSE 0 END)" for i in range(_SHD_BITS)
    ),
)


@query("dedup_simhash_exact", oracle=_SHD_ORACLE)
def dedup_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 oracle-checked twin of dedup_simhash: identical 32-bit
    SimHash pipeline, but the per-token base hash is the first 8 hex
    digits of md5 parsed to an int — exact.md5_int and DuckDB's
    '0x…' casts agree digit-for-digit, so bit votes, fingerprints, and
    the 16-bit hamming bands are engine-exact. The xxhash64
    `dedup_simhash` stays the production path (no hex round-trip);
    this key pins the SimHash algorithm cross-engine.

    Same 100 TB shape: one groupBy(doc, token), one groupBy(doc) with
    32 conditional sums (partial/final combinable), zero joins.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = _fan_out(docs, "doc_id").select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("t")
    ).where(F.col("t") != "")
    counted = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("cnt"))
    h = counted.withColumn("th", md5_int(F.col("t")))
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
                .otherwise(-F.col("cnt"))
            ).cast("long").alias(f"b{i}")
            for i in range(_SHD_BITS)
        ]
    )
    simhash = sum(
        (F.when(F.col(f"b{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(_SHD_BITS)),
        F.lit(0).cast("long"),
    )
    out = votes.select("doc_id", simhash.alias("simhash"))
    return out.select(
        "doc_id",
        "simhash",
        (F.col("simhash") % F.lit(65536)).cast("long").alias("band0"),
        (F.col("simhash") / F.lit(65536)).cast("long").alias("band1"),
    )


# Exact-substring overlap dedup (the "long common substring" pass LLM
# training pipelines run besides near-dup MinHash: two documents that
# share one long verbatim span are training-set leaks even when their
# overall Jaccard is low). Content-defined anchoring makes it an
# equi-join: every position's K-char gram is hashed, and a gram is an
# ANCHOR iff hash % _SSD_MOD == 0 — an alignment-invariant choice, so
# any shared span long enough to contain an anchor position yields the
# SAME anchor hash in both documents, regardless of where the span
# starts. md5-string hashes keep the anchor choice and the join keys
# byte-identical across engines (portable hex->int via exact.hex_int and
# the '0x' cast, the dedup_simhash_exact idiom).
_SSD_K = 32       # gram width (chars)
_SSD_MOD = 8      # keep ~1/8 of positions as anchors
_SSD_SEED_N = 200  # docs seeding extracted-span twins (corpus has few)

def substring_anchors(docs: DataFrame) -> DataFrame:
    """(doc_id, h) anchor-gram hashes for `dedup_substring` — exposed as
    a helper so the semantic tests exercise the SAME projection the
    registered operator ships (not a private re-implementation)."""
    return _fan_out(docs, "doc_id").select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    # guard: Spark sequence(1, 0) is DESCENDING [1, 0],
                    # not empty — short docs must yield no grams,
                    # matching the oracle's empty range()
                    F.expr(
                        f"CASE WHEN length(text) >= {_SSD_K} THEN transform("
                        f"  sequence(1, length(text) - {_SSD_K - 1}),"
                        f"  i -> md5(cast(substring(text, i, {_SSD_K}) as binary)))"
                        f" ELSE array() END"
                    ),
                    lambda h: hex_int(h) % _SSD_MOD == 0,
                )
            )
        ).alias("h"),
    )


_SSD_ORACLE = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id < {_SSD_SEED_N}
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, substr(text, 21, 200) AS text
  FROM documents WHERE doc_id < {_SSD_SEED_N}
),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         md5(substr(text, CAST(t.i AS INT), {_SSD_K})) AS h
  FROM base, UNNEST(range(1, greatest(length(text) - {_SSD_K - 1}, 0) + 1)) AS t(i)
  WHERE ('0x' || substr(md5(substr(text, CAST(t.i AS INT), {_SSD_K})), 1, 8))::BIGINT
        % {_SSD_MOD} = 0
)
SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM grams l JOIN grams r ON l.h = r.h AND l.doc_id < r.doc_id
GROUP BY 1, 2
"""


@query("dedup_substring", oracle=_SSD_ORACLE)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 companion: exact long-substring overlap detection — the
    verbatim-span dedup pass (contiguous K=32-char grams, content-
    defined mod-{mod} anchors) that catches copy-paste leaks MinHash's
    bag-of-shingles similarity underweights. Returns candidate pairs
    with the count of distinct shared anchor grams.

    Scale shape: gram generation + anchor selection + per-doc distinct
    all happen MAP-SIDE inside one projection (transform → filter →
    array_distinct → explode); only ~1/{mod} of positions ever reach
    the shuffle, and the pair join is an equi-join on the anchor hash —
    never a pairwise scan. A production variant would join on
    xxhash64 longs; the registered key keeps md5 strings so the anchor
    choice itself is oracle-checked cross-engine. The fixture corpus
    has few verbatim spans, so docs < {seed} seed extracted-span twins
    (chars 21-220 of the base text) at doc_id+2,000,000.
    """
    basedocs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _SSD_SEED_N)
        .select("doc_id", "text")
    )
    twins = basedocs.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.expr("substring(text, 21, 200)").alias("text"),
    )
    docs = basedocs.unionByName(twins)
    anchors = substring_anchors(docs)
    l = anchors.alias("l")
    r = anchors.alias("r")
    return (
        l.join(
            r,
            (F.col("l.h") == F.col("r.h"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


dedup_substring.__doc__ = dedup_substring.__doc__.format(
    mod=_SSD_MOD, seed=_SSD_SEED_N
)


# Incremental (daily-batch) dedup: production dedup is rarely a one-shot
# corpus pass — each ingest batch is checked against the standing
# fingerprint store and only novel documents proceed. The fixture split
# doc_id % 10 == 0 plays the incoming batch; the rest is the corpus.
@query(
    "dedup_incremental",
    oracle="""
    WITH corpus AS (
      SELECT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1
    ),
    batch AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 = 0
    )
    SELECT b.doc_id, b.fp,
           CAST(CASE WHEN c.fp IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
    FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 incremental form: fingerprint the incoming batch and probe the
    standing corpus fingerprint set — the reference's per-row
    insert-if-absent guard (M1, B:176) as ONE set-oriented join per
    batch instead of one lookup per row.

    Scale shape: both sides reduce to 16-byte md5 keys before the
    shuffle; the corpus side is distinct-aggregated (its fingerprint
    store would be bucketed by fp in production, making the daily probe
    a shuffle-free bucket join — layout_zorder/X8 territory), and the
    batch side is typically small enough that AQE broadcasts it.
    """
    docs = table(spark, sf_dir, "documents")
    corpus = (
        docs.where(F.col("doc_id") % 10 != 0)
        .select(F.md5(F.col("text").cast("binary")).alias("fp"))
        .distinct()
    )
    batch = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp")
    )
    hit = corpus.withColumn("is_dup", F.lit(1).cast("long"))
    return batch.join(hit, "fp", "left").select(
        "doc_id", "fp", F.coalesce("is_dup", F.lit(0).cast("long")).alias("is_dup")
    )


# End-to-end near-dup dedup: LSH candidates → exact-Jaccard verify →
# connected components → canonical selection (keep the longest copy,
# ties to the smallest id). Composes the md5-exact MinHash pipeline
# with a recursive-CTE components oracle (the wallet_components idiom —
# the verified-pair graph is tiny by construction, so the recursive
# walk is instant) and the packed-bigint keeper selection from
# dedup_keep_best. _DCKB_PACK bounds doc_id; the twin ids (base + 1e6)
# sit far inside it.
_DCKB_PACK = 100_000_000

_DCKB_ORACLE = (
    _MHD_CTE_PREFIX.replace("WITH base", "WITH RECURSIVE base", 1)
    + f""",
verified AS MATERIALIZED (
  SELECT c.a, c.b
  FROM cand c
  JOIN inter i ON i.a = c.a AND i.b = c.b
  JOIN sizes sa ON sa.doc_id = c.a
  JOIN sizes sb ON sb.doc_id = c.b
  WHERE CAST(i.n_inter AS DOUBLE)
        / CAST(sa.n + sb.n - i.n_inter AS DOUBLE) >= 0.5
),
sym AS (
  SELECT a AS src, b AS dst FROM verified
  UNION
  SELECT b AS src, a AS dst FROM verified
),
vnodes AS (SELECT DISTINCT src AS node FROM sym),
reach AS (
  SELECT node, node AS comp FROM vnodes
  UNION
  SELECT s.dst AS node, r.comp FROM reach r JOIN sym s ON s.src = r.node
),
clustered AS (
  SELECT node AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY node
),
labeled AS (
  SELECT b.doc_id, COALESCE(c.cluster_id, b.doc_id) AS cluster_id,
         length(b.text) AS n_chars
  FROM base b LEFT JOIN clustered c ON c.doc_id = b.doc_id
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST({_DCKB_PACK} - 1 - (MAX(n_chars * {_DCKB_PACK}
            + ({_DCKB_PACK} - 1 - doc_id)) % {_DCKB_PACK}) AS BIGINT)
         AS keeper_doc_id,
       CAST(MAX(n_chars * {_DCKB_PACK}
            + ({_DCKB_PACK} - 1 - doc_id)) // {_DCKB_PACK} AS BIGINT)
         AS keeper_len
FROM labeled GROUP BY cluster_id
"""
)


@query("dedup_cluster_keep_best", oracle=_DCKB_ORACLE)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+X2 end-to-end: the COMPLETE near-dup dedup decision — md5-exact
    MinHash-LSH candidates (dedup_minhash_exact's pipeline), exact-
    Jaccard verify, connected components over the verified pairs, then
    canonical selection per cluster: keep the LONGEST copy, ties to the
    smallest doc_id, as one packed-bigint MAX (no window, no sort —
    dedup_keep_best's aggregate idiom).

    Scale shape: everything upstream is the LSH equi-join pipeline;
    components run over the verified-pair graph, which is orders of
    magnitude smaller than the corpus; the final selection is one keyed
    aggregate. The oracle replays components as a recursive CTE (safe
    here — unlike wallet_components' corpus-scale graph, this edge set
    is tiny by construction).
    """
    # checkpoint the verified pairs once: connected_components references
    # its edge input twice (both orientations), which would otherwise
    # re-execute the whole LSH+verify pipeline inside the
    # symmetrization job
    pairs = (
        dedup_minhash_exact(spark, sf_dir)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .localCheckpoint(eager=True)
    )
    comp = connected_components(pairs, "a", "b", canonical=True)
    clustered = comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    base = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    twins = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr(
            "substring(text, 1, cast(floor(length(text) * 0.9) as int))"
        ).alias("text"),
    )
    labeled = (
        base.unionByName(twins)
        .join(clustered, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            F.length("text").cast("long").alias("n_chars"),
        )
    )
    # decode entirely in integer arithmetic (SQL `div`, not `/` — long/long
    # in the Column API is DOUBLE division, which would round past 2^53)
    pack_sql = f"n_chars * {_DCKB_PACK}L + ({_DCKB_PACK}L - 1 - doc_id)"
    return labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
        F.expr(
            f"CAST({_DCKB_PACK} - 1 - max({pack_sql}) % {_DCKB_PACK} AS BIGINT)"
        ).alias("keeper_doc_id"),
        F.expr(
            f"CAST(max({pack_sql}) div {_DCKB_PACK} AS BIGINT)"
        ).alias("keeper_len"),
    )


_DCT_ORACLE = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id < {_SSD_SEED_N}
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, substr(text, 21, 200) AS text
  FROM documents WHERE doc_id < {_SSD_SEED_N}
),
anchors AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         md5(substr(text, CAST(t.i AS INT), {_SSD_K})) AS h
  FROM base, UNNEST(range(1, greatest(length(text) - {_SSD_K - 1}, 0) + 1)) AS t(i)
  WHERE ('0x' || substr(md5(substr(text, CAST(t.i AS INT), {_SSD_K})), 1, 8))::BIGINT
        % {_SSD_MOD} = 0
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM anchors l JOIN anchors r ON l.h = r.h AND l.doc_id < r.doc_id
),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, substr(text, CAST(t.i AS INT), 3) AS g
  FROM base, UNNEST(range(1, greatest(length(text) - 2, 0) + 1)) AS t(i)
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
  GROUP BY c.doc_a, c.doc_b
),
directed AS (
  SELECT CASE WHEN sa.n < sb.n OR (sa.n = sb.n AND i.doc_b > i.doc_a)
              THEN i.doc_a ELSE i.doc_b END AS contained_doc,
         CASE WHEN sa.n < sb.n OR (sa.n = sb.n AND i.doc_b > i.doc_a)
              THEN i.doc_b ELSE i.doc_a END AS container_doc,
         LEAST(sa.n, sb.n) AS n_small, i.n_inter
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
)
SELECT contained_doc, container_doc, n_small, n_inter,
       CAST(ROUND(CAST(n_inter AS DOUBLE) / n_small * 1e9) AS BIGINT)
         AS containment_nanos
FROM directed
WHERE 10 * n_inter >= 8 * n_small
"""


@query("dedup_containment", oracle=_DCT_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 asymmetric near-dup: 3-gram CONTAINMENT |A∩B| / |A| — the
    subsumption detector Jaccard misses (a 200-char span extracted from
    a 2000-char doc has tiny Jaccard but containment ~1.0; training
    pipelines drop the contained doc, not both). Candidates come from
    the SAME substring_anchors blocking dedup_substring ships (shared
    32-char anchor grams — never pairwise); the verify stage counts
    distinct shared 3-grams per candidate pair, directs the pair
    smaller-into-larger (gram-set size, ties toward keeping the lower
    id as container), and keeps containment >= 0.8 via integer
    cross-multiplication (10*n_inter >= 8*n_small — no float at the
    cut). Corpus: the dedup_substring seeded twins, whose spans are
    verbatim extracts.

    Scale shape: anchor blocking + candidate equi-join exactly as
    dedup_substring; the 3-gram intersection join touches only
    candidate docs (semi-joined gram streams), map-side distinct
    inside the gram projection; final ratio over exact integers."""
    basedocs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _SSD_SEED_N)
        .select("doc_id", "text")
    )
    docs = basedocs.unionByName(
        basedocs.select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.expr("substring(text, 21, 200)").alias("text"),
        )
    ).localCheckpoint(eager=True)
    anchors = substring_anchors(docs)
    cand = (
        anchors.alias("l")
        .join(
            anchors.alias("r"),
            (F.col("l.h") == F.col("r.h")) & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN length(text) >= 3 THEN array_distinct(transform("
                "  sequence(1, length(text) - 2), i -> substring(text, i, 3)))"
                " ELSE array() END"
            )
        ).alias("g"),
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ga = grams.select(F.col("doc_id").alias("doc_a"), "g")
    gb = grams.select(F.col("doc_id").alias("doc_b2"), F.col("g").alias("g2"))
    inter = (
        cand.join(ga, "doc_a")
        .join(gb, (F.col("doc_b") == F.col("doc_b2")) & (F.col("g") == F.col("g2")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = inter.join(sa, "doc_a").join(sb, "doc_b")
    a_small = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("doc_b") > F.col("doc_a"))
    )
    directed = j.select(
        F.when(a_small, F.col("doc_a")).otherwise(F.col("doc_b")).alias("contained_doc"),
        F.when(a_small, F.col("doc_b")).otherwise(F.col("doc_a")).alias("container_doc"),
        F.least("na", "nb").alias("n_small"),
        "n_inter",
    )
    return directed.where(10 * F.col("n_inter") >= 8 * F.col("n_small")).select(
        "contained_doc",
        "container_doc",
        "n_small",
        "n_inter",
        F.round(F.col("n_inter").cast("double") / F.col("n_small") * 1e9)
        .cast("long")
        .alias("containment_nanos"),
    )


@query(
    "dedup_cluster_histogram",
    oracle="""
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(sz * COUNT(*) AS BIGINT) AS n_docs
    FROM (
      SELECT CAST(COUNT(*) AS BIGINT) AS sz
      FROM documents GROUP BY md5(text)
    )
    GROUP BY sz
    """,
)
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 diagnostic: the exact-duplicate cluster-size distribution —
    how many verbatim-identical groups of each size the corpus holds
    (size 1 = unique docs; the tail sizes say whether dedup will
    remove 1% or 40% of rows, the number that decides whether the
    near-dup passes are even worth their shuffles). Clusters keyed by
    md5(text) (dedup_exact's fingerprint discipline: the shuffle
    carries 16-byte digests, never payloads); the histogram is a
    second tiny aggregate over the O(#clusters) size table.

    Scale shape: fingerprint groupBy (map-side partial count), then an
    O(#distinct sizes) re-aggregate — no payload ever shuffles, no
    join."""
    sizes = (
        table(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
    )
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


@query(
    "similarity_join_prefix",
    oracle="""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 150
    ),
    docs AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + 1000000,
             substr(text, 1, CAST(floor(length(text) * 0.9) AS INT))
      FROM base
    ),
    toks AS (
      SELECT DISTINCT doc_id, t AS tok FROM (
        SELECT doc_id,
               UNNEST(string_split_regex(LOWER(text), '[^a-z]+')) AS t
        FROM docs
      ) WHERE t <> ''
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM toks GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM toks a JOIN toks b ON b.tok = a.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.a, p.b, p.inter,
           sa.sz + sb.sz - p.inter AS union_sz,
           CAST((CAST(p.inter AS HUGEINT) * 1000000000)
                // (sa.sz + sb.sz - p.inter) AS BIGINT) AS jaccard_nanos
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.a
    JOIN sizes sb ON sb.doc_id = p.b
    WHERE p.inter * 5 >= (sa.sz + sb.sz - p.inter) * 4
    """,
)
def similarity_join_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET-SIMILARITY JOIN with PREFIX FILTERING (PPJoin's candidate
    rule) — the third classic candidate generator next to MinHash
    bands (X2) and LSH buckets (X3): order each document's distinct
    tokens by GLOBAL rarity (document frequency asc — rare-first
    maximizes pruning), keep only the first |s| - ceil(0.8|s|) + 1
    tokens, and let candidates be pairs sharing a PREFIX token. The
    rule is LOSSLESS for Jaccard >= 0.8 (two sets above the threshold
    must overlap within their prefixes — the pigeonhole argument), so
    the ORACLE is the FULL all-pairs token join: a green hash proves
    the pruned candidate set found EVERY qualifying pair, a
    completeness differential rather than a same-pipeline replay.
    Matches are guaranteed by 90%-truncation twins (the
    dedup_minhash_exact seeded-fixture discipline); the threshold
    compare is cross-multiplied exact ints (inter*5 >= union*4).

    Scale shape: df ranking is one aggregate + an in-doc rank window;
    candidates come ONLY from the prefix-token equi-join (prefix
    length ~ 0.2|s|, and rare-first prefixes collide seldom); the
    verify joins full token sets for CANDIDATE pairs only. At 100 TB
    this is the published PPJoin recipe verbatim — the all-pairs form
    the oracle runs exists only at fixture scale."""
    base = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )
    trunc = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr(
            "substring(text, 1, cast(floor(length(text) * 0.9) as int))"
        ).alias("text"),
    )
    docs = base.unionByName(trunc)
    toks = (
        _fan_out(docs, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower("text"), "[^a-z]+"), lambda t: t != ""
                    )
                )
            ).alias("tok"),
        )
        .localCheckpoint(eager=True)
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    ranked = (
        toks.join(dfreq, "tok")
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy("df", "tok")
            ),
        )
        .join(sizes, "doc_id")
        # prefix_len = sz - ceil(0.8 sz) + 1; ceil(4x/5) = (4x+4) div 5
        .where(F.col("rk") <= F.col("sz") - F.expr("(4 * sz + 4) div 5") + 1)
        .select("doc_id", "tok")
    )
    cand = (
        ranked.alias("x")
        .join(ranked.alias("y"), "tok")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
        )
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("a"), "tok")
    tb = toks.select(F.col("doc_id").alias("b2"), F.col("tok").alias("tok_b"))
    inter = (
        cand.join(ta, "a")
        .join(tb, (F.col("b") == F.col("b2")) & (F.col("tok") == F.col("tok_b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .where(
            F.col("inter") * 5
            >= (F.col("sza") + F.col("szb") - F.col("inter")) * 4
        )
        .select(
            "a",
            "b",
            "inter",
            (F.col("sza") + F.col("szb") - F.col("inter"))
            .cast("long")
            .alias("union_sz"),
            F.expr(
                "(CAST(inter AS DECIMAL(38,0)) * 1000000000)"
                " div (sza + szb - inter)"
            )
            .cast("long")
            .alias("jaccard_nanos"),
        )
    )


_MHC_MATCH_SUM = " + ".join(
    f"(CASE WHEN ma.m{j} = mb.m{j} THEN 1 ELSE 0 END)" for j in range(_MHD_PERMS)
)

_MHC_ORACLE = (
    _MHD_CTE_PREFIX
    + f""",
m2 AS MATERIALIZED (SELECT * FROM mins),
scored AS (
  SELECT c.a, c.b,
         ({_MHC_MATCH_SUM}) AS m,
         i.n_inter AS i,
         sa.n + sb.n - i.n_inter AS u
  FROM cand c
  JOIN mins ma ON ma.doc_id = c.a
  JOIN m2 mb ON mb.doc_id = c.b
  JOIN inter i ON i.a = c.a AND i.b = c.b
  JOIN sizes sa ON sa.doc_id = c.a
  JOIN sizes sb ON sb.doc_id = c.b
)
SELECT CAST((10 * abs(m * u - i * {_MHD_PERMS})) // ({_MHD_PERMS} * u)
            AS BIGINT) AS err_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM((abs(m * u - i * {_MHD_PERMS}) * 1000000000)
                // ({_MHD_PERMS} * u)) AS BIGINT) AS abs_err_nanos_sum
FROM scored GROUP BY 1 ORDER BY 1
"""
)


@query("minhash_estimate_calibration", oracle=_MHC_ORACLE)
def minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINHASH ESTIMATOR CALIBRATION — the audit that tells you whether
    {_MHD_PERMS} permutations are enough before trusting LSH recall: for
    every band-candidate pair, the estimate ĵ = matches/{_MHD_PERMS}
    (component-wise signature agreement) against the EXACT shingle
    Jaccard i/u, histogrammed by error decile floor(10·|ĵ − j|) with
    the difference formed by integer cross-multiplication
    (|m·u − i·P| vs P·u — the similarity_range boundary technique, no
    float subtraction), plus the summed absolute error in int-nanos
    (mean error = sum/n, the dashboard number; E|ĵ−j| ≈
    sqrt(j(1−j)/P) under the binomial model this audit empirically
    checks). Same md5 signatures, same candidates, same seeded
    near-dup fixture as `dedup_minhash_exact` — the estimator and its
    ground truth ride one pipeline, so the audit costs one extra
    16-column comparison per candidate.

    Scale shape: candidates only from band equi-joins; the signature
    comparison is a broadcast-able 16-column join probe; verification
    (array_intersect) confined to candidates; one O(10) aggregate."""
    base = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    trunc = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr(
            "substring(text, 1, cast(floor(length(text) * 0.9) as int))"
        ).alias("text"),
    )
    docs = base.unionByName(trunc)
    arr = (
        _fan_out(docs, "doc_id")
        .select(
            "doc_id",
            F.array_distinct(_shingles(_tokens(F.col("text")))).alias("gs"),
        )
        .localCheckpoint(eager=True)
    )

    def _md5_perm(j: int):
        return lambda g: F.md5(F.concat(F.lit(f"{j}:"), g).cast("binary"))

    mins = arr.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("gs"), _md5_perm(j))).alias(f"m{j}")
            for j in range(_MHD_PERMS)
        ],
    )
    per_band = _MHD_PERMS // _MHD_BANDS
    bands = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[F.col(f"m{b * per_band + j}") for j in range(per_band)],
                            ).cast("binary")
                        ).alias("sig"),
                    )
                    for b in range(_MHD_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )
    ma = mins.select(
        F.col("doc_id").alias("a"), *[F.col(f"m{j}").alias(f"a{j}") for j in range(_MHD_PERMS)]
    )
    mb = mins.select(
        F.col("doc_id").alias("b"), *[F.col(f"m{j}").alias(f"b{j}") for j in range(_MHD_PERMS)]
    )
    a_side = arr.select(F.col("doc_id").alias("a"), F.col("gs").alias("ga"))
    b_side = arr.select(F.col("doc_id").alias("b"), F.col("gs").alias("gb"))
    n_inter = F.size(F.array_intersect(F.col("ga"), F.col("gb"))).cast("long")
    matches = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(_MHD_PERMS)
    ).cast("long")
    scored = (
        cand.join(ma, "a")
        .join(mb, "b")
        .join(a_side, "a")
        .join(b_side, "b")
        .select(
            matches.alias("m"),
            n_inter.alias("i"),
            (F.size("ga") + F.size("gb") - n_inter).cast("long").alias("u"),
        )
    )
    P = _MHD_PERMS
    return (
        scored.groupBy(
            F.expr(f"(10 * abs(m * u - i * {P})) div ({P} * u)").alias("err_decile")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.expr(f"(abs(m * u - i * {P}) * 1000000000) div ({P} * u)"))
            .cast("long")
            .alias("abs_err_nanos_sum"),
        )
        .select(
            F.col("err_decile").cast("long").alias("err_decile"),
            "n_pairs",
            "abs_err_nanos_sum",
        )
        .orderBy("err_decile")
    )


minhash_estimate_calibration.__doc__ = minhash_estimate_calibration.__doc__.format(
    _MHD_PERMS=_MHD_PERMS
)


def _shc_oracle() -> str:
    vote_cols = ",\n         ".join(
        f"SUM(CASE WHEN (th // {1 << i}) % 2 = 1 THEN cnt ELSE -cnt END) AS b{i}"
        for i in range(_SHD_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN b{i} >= 0 THEN {1 << i} ELSE 0 END)" for i in range(_SHD_BITS)
    )
    return f"""
    WITH base AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             substr(text, 1, CAST(FLOOR(LENGTH(text) * 0.9) AS INT)) AS text
      FROM documents WHERE doc_id < 200
    ),
    tok AS MATERIALIZED (
      SELECT doc_id, t FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM base
      ) WHERE t <> ''
    ),
    counted AS (
      SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok GROUP BY doc_id, t
    ),
    h AS (
      SELECT doc_id, cnt,
             ('0x' || substr(md5(t), 1, 8))::BIGINT AS th
      FROM counted
    ),
    votes AS (
      SELECT doc_id,
         {vote_cols}
      FROM h GROUP BY doc_id
    ),
    fps AS (
      SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
    ),
    bands AS (
      SELECT doc_id, 0 AS band, simhash % 65536 AS sig FROM fps
      UNION ALL
      SELECT doc_id, 1, simhash // 65536 FROM fps
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
    ),
    grams AS MATERIALIZED (SELECT DISTINCT doc_id, t FROM tok),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM grams
              GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, CAST(COUNT(*) AS BIGINT) AS i
      FROM cand c
      JOIN grams ga ON ga.doc_id = c.a
      JOIN grams gb ON gb.doc_id = c.b AND gb.t = ga.t
      GROUP BY c.a, c.b
    ),
    scored AS (
      SELECT bit_count(xor(fa.simhash, fb.simhash)) AS ham,
             COALESCE(i.i, 0) AS i,
             sa.n + sb.n - COALESCE(i.i, 0) AS u
      FROM cand c
      JOIN fps fa ON fa.doc_id = c.a
      JOIN fps fb ON fb.doc_id = c.b
      JOIN sizes sa ON sa.doc_id = c.a
      JOIN sizes sb ON sb.doc_id = c.b
      LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
    )
    SELECT CAST(LEAST(ham // 4, 4) AS BIGINT) AS hamming_band,
           CAST((10 * i) // u AS BIGINT) AS jaccard_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM scored GROUP BY 1, 2 ORDER BY 1, 2
    """


@query("simhash_hamming_calibration", oracle=_shc_oracle())
def simhash_hamming_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMHASH CALIBRATION — the third estimator audit (with
    `minhash_estimate_calibration` and `countmin_calibration`): for
    every 16-bit-band candidate pair on the seeded near-dup corpus,
    the (hamming-distance band × exact-Jaccard decile) grid — the
    empirical table that tells you WHICH hamming threshold corresponds
    to the Jaccard bar you actually care about (SimHash estimates
    angular similarity of the weighted token vector, not Jaccard, so
    the mapping must be measured, not assumed). Hamming via
    bit_count(xor) on the md5-vote fingerprints
    (`dedup_simhash_exact`'s engine-exact pipeline); Jaccard deciles
    by integer cross-multiplication.

    Scale shape: candidates only from band equi-joins; fingerprints
    are one groupBy with 32 conditional sums; verification confined to
    candidates; output ≤ 5×10 cells."""
    base = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    trunc = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr(
            "substring(text, 1, cast(floor(length(text) * 0.9) as int))"
        ).alias("text"),
    )
    docs = base.unionByName(trunc)
    tok = (
        _fan_out(docs, "doc_id")
        .select("doc_id", F.explode(_tokens(F.col("text"))).alias("t"))
        .where(F.col("t") != "")
    )
    counted = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("cnt"))
    h = counted.withColumn("th", md5_int(F.col("t")))
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1,
                    F.col("cnt"),
                ).otherwise(-F.col("cnt"))
            )
            .cast("long")
            .alias(f"b{i}")
            for i in range(_SHD_BITS)
        ]
    )
    simhash = sum(
        (
            F.when(F.col(f"b{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(_SHD_BITS)
        ),
        F.lit(0).cast("long"),
    )
    fps = votes.select("doc_id", simhash.alias("simhash")).localCheckpoint(
        eager=True
    )
    bands = fps.select(
        "doc_id", F.lit(0).alias("band"), (F.col("simhash") % 65536).alias("sig")
    ).unionByName(
        fps.select(
            "doc_id",
            F.lit(1).alias("band"),
            F.expr("simhash div 65536").alias("sig"),
        )
    )
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )
    grams = tok.select("doc_id", "t").distinct().localCheckpoint(eager=True)
    garr = grams.groupBy("doc_id").agg(F.collect_set("t").alias("gs"))
    a_side = garr.select(F.col("doc_id").alias("a"), F.col("gs").alias("ga"))
    b_side = garr.select(F.col("doc_id").alias("b"), F.col("gs").alias("gb"))
    fa = fps.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sha"))
    fb = fps.select(F.col("doc_id").alias("b"), F.col("simhash").alias("shb"))
    n_inter = F.size(F.array_intersect(F.col("ga"), F.col("gb"))).cast("long")
    scored = (
        cand.join(fa, "a")
        .join(fb, "b")
        .join(a_side, "a")
        .join(b_side, "b")
        .select(
            F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))).alias("ham"),
            n_inter.alias("i"),
            (F.size("ga") + F.size("gb") - n_inter).cast("long").alias("u"),
        )
    )
    return (
        scored.groupBy(
            F.least(F.expr("ham div 4"), F.lit(4)).cast("long").alias("hamming_band"),
            F.expr("(10 * i) div u").cast("long").alias("jaccard_decile"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("hamming_band", "jaccard_decile")
    )
