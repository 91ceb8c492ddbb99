"""Text-analysis + content-dedup query catalog (north-star extension ops).

Each query pairs a Spark operator (operators/textops.py, operators/dedup.py)
with a DuckDB oracle that re-implements the same algorithm in SQL, so the
correctness gate covers the *algorithm*, not just plumbing.

The two near-dup queries inject exact duplicates (doc_id % 50 == 0 cloned
with +1000000 ids) so the candidate/pair output is guaranteed non-empty and
the dedup path is actually exercised on the otherwise duplicate-free
testdata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions.localframe import local_frame

from migrate_cassandra_to_mysql_spark.functions import text as textfns
from migrate_cassandra_to_mysql_spark.operators import components, dedup, textops
from migrate_cassandra_to_mysql_spark.plans.registry import register
from migrate_cassandra_to_mysql_spark.sources.parquet import table as T

_TOKS_SQL = "string_split_regex(trim(text), '\\s+')"

_STOP_SQL = {
    lg: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lg, words in textops.STOPWORDS.items()
}


def _inject_dups_spark(d: DataFrame) -> DataFrame:
    # Single-scan explode form of `base UNION ALL shifted-copy-of-2%`: the
    # union form scans the parquet twice and doubles the pre-shuffle plan
    # (two branches to codegen-compile per consumer). One generate over a
    # 1-or-2 element array yields the identical multiset from one scan.
    return d.select(
        F.explode(
            F.when(
                F.col("doc_id") % 50 == 0,
                F.array(F.col("doc_id"), F.col("doc_id") + 1000000),
            ).otherwise(F.array(F.col("doc_id")))
        ).alias("doc_id"),
        "text",
    )


_INJECT_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
"""


def _inject_band_dups_spark(d: DataFrame) -> DataFrame:
    """The dedup-recall eval corpus (r13 VERDICT ask #6): the standard
    exact-copy injection (doc_id % 50 == 0 -> +1000000, identical text)
    PLUS a NEAR-THRESHOLD band — every doc_id % 50 == 25 adds a
    +2000000 copy holding only the first floor(n/2)+1 tokens. The
    prefix's 3-gram shingles are a subset of the original's, so the
    pair's Jaccard is |prefix shingles| / |orig shingles| ~ 0.5, with
    per-doc distinctness jitter straddling the 0.5 truth threshold:
    some band pairs ARE truth, and at s ~ 0.5 the 4x2 LSH S-curve
    catches only ~1-(1-s^2)^4 ~ 68% of them — so the eval's recall can
    actually MOVE when the banding changes, instead of saturating at
    100% on exact copies (tests/test_r14_ops.py pins recall < 1.0 and
    the band's existence). Only dedup_recall_eval uses this corpus;
    the component rows keep the plain injection + their own verbatim
    oracles."""
    t = d.select(
        "doc_id", "text", textfns.tokens(F.col("text")).alias("__toks")
    )
    half = F.array_join(
        F.expr("slice(__toks, 1, (size(__toks) + 2) div 2)"), " "
    )
    rec = F.struct(
        F.col("doc_id").alias("doc_id"), F.col("text").alias("text")
    )
    exact = F.struct(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.col("text").alias("text"),
    )
    band = F.struct(
        (F.col("doc_id") + 2000000).alias("doc_id"), half.alias("text")
    )
    return t.select(
        F.explode(
            F.when(F.col("doc_id") % 50 == 0, F.array(rec, exact))
            .when(F.col("doc_id") % 50 == 25, F.array(rec, band))
            .otherwise(F.array(rec))
        ).alias("r")
    ).select("r.doc_id", "r.text")


_INJECT_BAND_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         array_to_string(toks[1:(len(toks) + 2) // 2], ' ') AS text
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks
        FROM documents WHERE doc_id % 50 = 25)
"""


@register(
    "text_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, text, {_TOKS_SQL} AS toks FROM documents)
SELECT doc_id, lang,
       length(text) AS n_chars_measured,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
         AS sum_token_len,
       CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
FROM t
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting / char stats / type-token ratio per document — all
    map-side higher-order functions, zero shuffle."""
    return textops.text_stats(T(spark, sf_dir, "documents"))


@register(
    "lang_id_heuristic",
    oracle=f"""
WITH t AS (SELECT doc_id, lang AS lang_truth, {_TOKS_SQL} AS toks
           FROM documents),
 scored AS (
  SELECT doc_id, lang_truth,
    CAST(len(list_filter(toks, x -> list_contains({_STOP_SQL['en']}, x))) AS BIGINT) AS en_hits,
    CAST(len(list_filter(toks, x -> list_contains({_STOP_SQL['de']}, x))) AS BIGINT) AS de_hits,
    CAST(len(list_filter(toks, x -> list_contains({_STOP_SQL['fr']}, x))) AS BIGINT) AS fr_hits,
    CAST(len(list_filter(toks, x -> list_contains({_STOP_SQL['es']}, x))) AS BIGINT) AS es_hits
  FROM t)
SELECT doc_id, lang_truth, en_hits, de_hits, fr_hits, es_hits,
  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits
            AND en_hits > 0 THEN 'en'
       WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
       WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
       WHEN es_hits > 0 THEN 'es'
       ELSE 'unk' END AS pred_lang
FROM scored
""",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID with deterministic argmax cascade."""
    return textops.lang_id(T(spark, sf_dir, "documents"))


@register(
    "quality_score",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
 s AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(len(list_filter(toks, x -> list_contains({_STOP_SQL['en']}, x))) AS BIGINT)
      AS stop_hits,
    CAST(len(list_filter(toks, x -> list_contains({_STOP_SQL['en']}, x))) AS DOUBLE)
      / len(toks) AS stop_ratio,
    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
  FROM t)
SELECT *, CASE WHEN n_tokens < 20 THEN 'too_short'
               WHEN stop_ratio >= 0.10 THEN 'high'
               WHEN stop_ratio >= 0.03 THEN 'medium'
               ELSE 'low' END AS quality_band
FROM s
""",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style quality banding from cheap column signals."""
    return textops.quality_score(T(spark, sf_dir, "documents"))


@register(
    "doc_fingerprint",
    oracle="""
WITH f AS (SELECT doc_id,
                  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                    AS fingerprint
           FROM documents)
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
FROM f GROUP BY fingerprint
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via md5 fingerprint of normalized text: groupBy
    fingerprint, keep min doc_id as canonical (deterministic survivor)."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select("doc_id", textops.fingerprint(d).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


@register(
    "ngram_jaccard_dedup",
    oracle=f"""
WITH base AS ({_INJECT_SQL}),
 t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM base),
 s AS (SELECT doc_id,
              CASE WHEN len(toks) >= 3 THEN
                list_distinct(list_transform(range(0, len(toks) - 2),
                  i -> array_to_string(toks[i+1:i+3], ' ')))
              ELSE [] END AS shset
       FROM t),
 sz AS (SELECT doc_id, CAST(len(shset) AS BIGINT) AS n_sh FROM s),
 ex AS (SELECT doc_id, unnest(shset) AS shingle FROM s),
 pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*) AS n_shared
           FROM ex a JOIN ex b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
SELECT p.doc_a, p.doc_b, p.n_shared,
       CAST(p.n_shared AS DOUBLE) / (za.n_sh + zb.n_sh - p.n_shared) AS jaccard
FROM pairs p
JOIN sz za ON p.doc_a = za.doc_id
JOIN sz zb ON p.doc_b = zb.doc_id
WHERE CAST(p.n_shared AS DOUBLE) / (za.n_sh + zb.n_sh - p.n_shared) >= 0.5
""",
)
def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5) via inverted-index
    join over distinct shingles."""
    base = _inject_dups_spark(T(spark, sf_dir, "documents"))
    return dedup.jaccard_pairs(base, k=3, threshold=0.5)


@register(
    "ngram_jaccard_pruned",
    oracle=f"""
WITH base AS ({_INJECT_SQL}),
 t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM base),
 s AS (SELECT doc_id,
              CASE WHEN len(toks) >= 3 THEN
                list_distinct(list_transform(range(0, len(toks) - 2),
                  i -> array_to_string(toks[i+1:i+3], ' ')))
              ELSE [] END AS shset
       FROM t),
 exd AS (SELECT doc_id, unnest(shset) AS shingle FROM s),
 f AS (SELECT doc_id, shingle FROM (
         SELECT doc_id, shingle,
                count(*) OVER (PARTITION BY shingle) AS df
         FROM exd) t WHERE df <= 10),
 sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM f GROUP BY 1),
 pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*) AS n_shared
           FROM f a JOIN f b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
SELECT p.doc_a, p.doc_b, p.n_shared,
       CAST(p.n_shared AS DOUBLE) / (za.n_sh + zb.n_sh - p.n_shared) AS jaccard
FROM pairs p
JOIN sz za ON p.doc_a = za.doc_id
JOIN sz zb ON p.doc_b = zb.doc_id
WHERE CAST(p.n_shared AS DOUBLE) / (za.n_sh + zb.n_sh - p.n_shared) >= 0.5
""",
)
def ngram_jaccard_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-pruned 3-gram Jaccard near-dup pairs (threshold 0.5,
    max_df=10): stop-shingles appearing in >10 documents are dropped from
    the universe before the candidate join, then Jaccard is exact on the
    pruned sets. A shingle shared by d docs costs O(d^2) candidate pairs,
    so at corpus scale the hot tail IS the join — pruning it bounds the
    blowup while the rare shingles keep the near-dup signal (the oracle
    applies the identical pruning, so the comparison is exact).

    spread=True re-added in r5 on a fresh A/B against THIS plan shape
    (single-scan inject + persisted sizes): the interpreted HOF shingle
    chain otherwise runs on the single scan task of the one-row-group
    sf0.1 file; spreading the raw docs first holds the cache-cold floor
    at ~1.05s vs 1.2-1.8s unspread. No-op at scale by construction."""
    base = _inject_dups_spark(T(spark, sf_dir, "documents", spread=True))
    return dedup.jaccard_pairs(base, k=3, threshold=0.5, max_df=10)


@register(
    "charngram_lang_id",
    oracle="""
WITH g AS (
  SELECT doc_id, lang,
         unnest(list_distinct(list_transform(
           range(1, greatest(length(text) - 1, 1)),
           i -> substring(text, i, 3)))) AS gram
  FROM documents),
 train AS (SELECT lang AS p_lang, gram, count(*) AS c FROM g GROUP BY 1, 2),
 prof AS (SELECT p_lang, gram FROM (
   SELECT *, row_number() OVER (PARTITION BY p_lang
                                ORDER BY c DESC, gram) AS rn
   FROM train) t WHERE rn <= 20),
 hits AS (SELECT g.doc_id, p.p_lang, count(*) AS n_hits
          FROM g JOIN prof p ON g.gram = p.gram GROUP BY 1, 2),
 best AS (SELECT doc_id, p_lang, n_hits FROM (
   SELECT *, row_number() OVER (PARTITION BY doc_id
                                ORDER BY n_hits DESC, p_lang) AS rn
   FROM hits) t WHERE rn = 1)
SELECT d.doc_id, d.lang AS lang_truth,
       coalesce(b.p_lang, 'unk') AS pred_lang,
       CAST(coalesce(b.n_hits, 0) AS BIGINT) AS n_hits
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
""",
)
def charngram_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile-based language ID (fastText-LID shape): train per-language
    char-trigram profiles FROM the labeled corpus (top-20 grams by doc
    frequency), broadcast the tiny profile table, score every document by
    profile overlap, argmax with deterministic tie-break. Training and
    inference are each one partial-agg groupBy; the profile join is
    broadcast (<=100 rows)."""
    from migrate_cassandra_to_mysql_spark.functions.text import char_ngrams_expr
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    g = d.select(
        "doc_id", "lang", F.explode(char_ngrams_expr("text", 3)).alias("gram")
    )
    train = g.groupBy(F.col("lang").alias("p_lang"), "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    wp = Window.partitionBy("p_lang").orderBy(F.desc("c"), F.asc("gram"))
    prof = (
        train.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= 20)
        .select("p_lang", "gram")
    )
    hits = (
        g.join(F.broadcast(prof), "gram")
        .groupBy("doc_id", "p_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    wd = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("p_lang"))
    best = (
        hits.withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") == 1)
        .select("doc_id", "p_lang", "n_hits")
    )
    return d.join(best, "doc_id", "left").select(
        "doc_id",
        F.col("lang").alias("lang_truth"),
        F.coalesce("p_lang", F.lit("unk")).alias("pred_lang"),
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
 tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
 df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
 n AS (SELECT count(*) AS n_docs FROM documents),
 scored AS (
  SELECT tf.doc_id, tf.tok,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 8) AS tfidf
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
SELECT doc_id, tok, tfidf,
       CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, tok) AS rnk
      FROM scored) t
WHERE rnk <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document. tf is one partial-aggregated
    groupBy over the exploded tokens; df DERIVES from tf — tf's rows are
    exactly the distinct (doc, token) pairs, so df(tok) = count(*) over
    tf — which drops the second corpus explode AND the countDistinct
    Expand that a from-scratch df aggregation pays (at 100 TB that is a
    whole extra corpus scan + token-volume shuffle; here the df input is
    the already-reduced tf table). The vocabulary-sized df result is
    broadcast back onto tf. Scores rounded to 8 dp before ranking (ln()
    may differ by 1 ulp between JVM and libm)."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # Corpus size rides the plan as a broadcast 1-row aggregate (like the
    # oracle's CROSS JOIN n) instead of a separate d.count() action — one
    # job, one scan schedule, instead of two.
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 8
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
    )


# sparse_cosine_pairs constants: pairing goes only through terms with
# df <= min(max(n_docs/8, 64), 1024) — relative (1/8 of docs) on small
# corpora, CLAMPED to an absolute ceiling at scale. The clamp is the
# load-bearing scale bound: a purely relative cap lets a term sit just
# under n/8 and fan out (n/8)^2/2 pairs — quadratic in corpus size —
# while the clamp bounds any kept term at 1024^2/2 pairs, making total
# candidate volume linear in vocabulary. The floor (64) keeps genuinely
# rare terms pair-eligible on tiny corpora. Pairs below the cosine
# threshold drop.
_SC_DF_CAP_FRAC = 8
_SC_DF_FLOOR = 64
_SC_DF_CEIL = 1024
_SC_THRESHOLD = 0.2


@register(
    "sparse_cosine_pairs",
    oracle=f"""
WITH base AS ({_INJECT_SQL}),
 toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM base),
 tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, tok),
 n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM base),
 df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
 kept AS (SELECT df.tok, df.df FROM df CROSS JOIN n
          WHERE df.df <= least(greatest(n.n_docs // {_SC_DF_CAP_FRAC},
                                        {_SC_DF_FLOOR}), {_SC_DF_CEIL})),
 w AS (SELECT tf.doc_id, tf.tok,
              round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / kept.df), 8) AS w
       FROM tf JOIN kept ON tf.tok = kept.tok CROSS JOIN n),
 n2 AS (SELECT doc_id,
               sum(CAST(round(w * w, 10) AS DECIMAL(30,10))) AS n2
        FROM w GROUP BY doc_id),
 dot AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(count(*) AS BIGINT) AS n_shared,
                sum(CAST(round(a.w * b.w, 10) AS DECIMAL(30,10))) AS dot
         FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
SELECT doc_a, doc_b, n_shared,
       round(CAST(dot.dot AS DOUBLE)
             / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)),
             6) AS cosine
FROM dot JOIN n2 na ON dot.doc_a = na.doc_id
         JOIN n2 nb ON dot.doc_b = nb.doc_id
WHERE round(CAST(dot.dot AS DOUBLE)
            / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)),
            6) >= {_SC_THRESHOLD}
""",
)
def sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs SPARSE cosine similarity over TF-IDF document vectors
    with a similarity threshold — the exact-similarity complement of the
    MinHash/SimHash probabilistic dedup family (APSS: Bayardo et al.
    2007's all-pairs problem). Every surviving pair (doc_a < doc_b)
    reports its shared-term count and cosine.

    Scale shape — the join is POSTING-SIZED, never corpus x corpus:
    1. tf is one partial-agg groupBy over exploded tokens; df derives
       from tf (the tfidf_top_terms discipline — no second corpus scan).
    2. Prefix-filtering by document frequency: pairing goes only
       through terms with df <= min(max(n/8, 64), 1024) — relative on
       small corpora, CLAMPED absolute at scale. A term with df d fans
       out O(d^2) pairs, and a purely relative cap would let a term
       just under n/8 generate (n/8)^2/2 of them — quadratic in corpus
       size (caught by the sf1 smoke: the synthesis copytokens sit at
       n/10); the clamp bounds any kept term at 1024^2/2 pairs, so
       total candidate volume is linear in vocabulary. The pruned
       stop-ish terms carry the least similarity signal anyway. The
       operator is DEFINED as cosine over the pruned term space
       (weights, norms, and pairs all use it — the oracle encodes the
       same).
    3. The posting self-join on tok emits only co-occurring pairs;
       the per-pair reduction is a partial-agg groupBy.
    4. Float determinism (the corpus_divergence discipline): each
       product rounds to 10 dp and sums as DECIMAL(30,10) — exact,
       order-independent — and the single final cosine expression over
       those exact sums rounds to 6 dp before the threshold.
    Norm attachment is two doc-keyed equi-joins of a corpus-sized
    1-row-per-doc table (co-partitioned with the pair reduction at
    scale)."""
    base = _inject_dups_spark(T(spark, sf_dir, "documents"))
    toks = base.select(
        "doc_id", F.explode(textfns.tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # tf, n, w, n2 are each re-referenced downstream (tf by df and w;
    # n by kept and w; w by the self-join twice and the norms; n2 by
    # both join sides). Un-checkpointed, Catalyst inlines the WHOLE
    # upstream once per reference — the executed plan read the corpus
    # 16 times (measured; zero ReusedExchange). Eager localCheckpoint
    # caps it at two corpus scans (tf, n): at 100 TB "persist the
    # tokenized posting projection" is exactly the serving discipline
    # the BM25 rows document, and w/n2 are posting-/doc-sized.
    tf = tf.localCheckpoint(eager=True)
    n = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).localCheckpoint(eager=True)
    dfr = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    cap = F.least(
        F.greatest(
            F.expr(f"n_docs DIV {_SC_DF_CAP_FRAC}"),
            F.lit(_SC_DF_FLOOR),
        ),
        F.lit(_SC_DF_CEIL),
    )
    kept = (
        dfr.crossJoin(F.broadcast(n))
        .where(F.col("df") <= cap)
        .select("tok", "df")
    )
    w = (
        tf.join(F.broadcast(kept), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                8,
            ).alias("w"),
        )
    ).localCheckpoint(eager=True)
    n2 = w.groupBy("doc_id").agg(
        F.sum(
            F.round(F.col("w") * F.col("w"), 10).cast("decimal(30,10)")
        ).alias("n2")
    ).localCheckpoint(eager=True)
    a, b = w.alias("a"), w.alias("b")
    dot = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.sum(
                F.round(F.col("a.w") * F.col("b.w"), 10).cast(
                    "decimal(30,10)"
                )
            ).alias("dot"),
        )
    )
    na = n2.select(
        F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2a")
    )
    nb = n2.select(
        F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2b")
    )
    cosine = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("n2a").cast("double") * F.col("n2b").cast("double")),
        6,
    )
    return (
        dot.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "n_shared", cosine.alias("cosine"))
        .where(F.col("cosine") >= _SC_THRESHOLD)
    )


# Containment near-dup constants. The injection wraps every 50th doc in
# site boilerplate (a prefix + footer of ~25 tokens) under doc_id +
# 2000000 — the doc-contained-in-doc shape Jaccard's symmetric
# denominator dilutes: C(orig->wrapped) is exactly 1.0 (every original
# shingle survives in the wrapper; the boundary only ADDS shingles)
# while Jaccard = |orig|/|wrapped| < 1 and, for short docs inside long
# boilerplate, drops under the LSH threshold (pinned in
# tests/test_r13_ops.py on a synthetic fixture).
_CONT_THRESHOLD = 0.9
_CONT_PRE = (
    "mirror notice this page is served from an archived snapshot "
    "please consult the origin site for the current revision"
)
_CONT_POST = (
    "footer navigation about contact careers privacy terms "
    "copyright all rights reserved"
)
_CONT_INJECT_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         '{_CONT_PRE} ' || text || ' {_CONT_POST}' AS text
  FROM documents WHERE doc_id % 50 = 0
"""


def _inject_wrapped_spark(d: DataFrame) -> DataFrame:
    # Single-scan struct-explode form of `base UNION ALL boilerplate-
    # wrapped-copy-of-2%` (the _inject_dups_spark discipline: one scan,
    # one codegen branch).
    orig = F.struct(
        F.col("doc_id").alias("doc_id"), F.col("text").alias("text")
    )
    wrapped = F.struct(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.lit(_CONT_PRE + " "), F.col("text"), F.lit(" " + _CONT_POST)
        ).alias("text"),
    )
    return d.select(
        F.explode(
            F.when(F.col("doc_id") % 50 == 0, F.array(orig, wrapped))
            .otherwise(F.array(orig))
        ).alias("r")
    ).select("r.doc_id", "r.text")


@register(
    "shingle_containment_pairs",
    oracle=f"""
WITH base AS ({_CONT_INJECT_SQL}),
 t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM base),
 s AS (SELECT doc_id,
              CASE WHEN len(toks) >= 3 THEN
                list_distinct(list_transform(range(0, len(toks) - 2),
                  i -> array_to_string(toks[i+1:i+3], ' ')))
              ELSE [] END AS shset
       FROM t),
 exd AS (SELECT doc_id, unnest(shset) AS shingle FROM s),
 n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM base),
 f AS (SELECT doc_id, shingle FROM (
         SELECT doc_id, shingle,
                count(*) OVER (PARTITION BY shingle) AS df
         FROM exd) t CROSS JOIN n
       WHERE df <= least(greatest(n.n_docs // {_SC_DF_CAP_FRAC},
                                  {_SC_DF_FLOOR}), {_SC_DF_CEIL})),
 sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM f GROUP BY 1),
 pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(count(*) AS BIGINT) AS n_shared
           FROM f a JOIN f b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
SELECT p.doc_a, p.doc_b, p.n_shared,
       za.n_sh AS n_sh_a, zb.n_sh AS n_sh_b,
       round(CAST(p.n_shared AS DOUBLE) / za.n_sh, 6) AS c_ab,
       round(CAST(p.n_shared AS DOUBLE) / zb.n_sh, 6) AS c_ba
FROM pairs p
JOIN sz za ON p.doc_a = za.doc_id
JOIN sz zb ON p.doc_b = zb.doc_id
WHERE greatest(round(CAST(p.n_shared AS DOUBLE) / za.n_sh, 6),
               round(CAST(p.n_shared AS DOUBLE) / zb.n_sh, 6))
      >= {_CONT_THRESHOLD}
""",
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup pairs by 3-gram shingle containment
    C(A->B) = |S(A) ∩ S(B)| / |S(A)| >= 0.9 in either direction —
    the doc-contained-in-doc detector (boilerplate-wrapped duplicates)
    that Jaccard's symmetric |A ∪ B| denominator dilutes below every
    LSH threshold. See operators/dedup.containment_pairs for the full
    semantics, the sparse_cosine_pairs df-clamp scale bound (kept
    shingles fan out <= 1024^2/2 pairs each; candidate volume linear in
    vocabulary), and the single-checkpoint plan discipline. The corpus
    injects boilerplate-wrapped copies of every 50th doc so the
    asymmetric pairs exist at every sf."""
    from migrate_cassandra_to_mysql_spark.operators import dedup

    base = _inject_wrapped_spark(T(spark, sf_dir, "documents"))
    return dedup.containment_pairs(
        base,
        k=3,
        threshold=_CONT_THRESHOLD,
        df_cap_frac=_SC_DF_CAP_FRAC,
        df_floor=_SC_DF_FLOOR,
        df_ceil=_SC_DF_CEIL,
    )


# Jensen-Shannon divergence between the unigram distributions of the two
# doc_id-parity halves of each language's corpus — the data-mix diagnostic
# a training pipeline runs to detect distribution drift between shards /
# snapshots. The per-term contribution expression is shared verbatim by
# Spark and DuckDB (columns c0/c1/t0/t1); each contribution is rounded to
# 12 dp and summed as DECIMAL so the reduction is exact and order-
# independent (a plain double sum would differ between engines by
# accumulation order alone).
_JS_CONTRIB_SQL = (
    "CAST(round("
    "0.5 * (CASE WHEN c0 > 0 THEN (c0 / t0)"
    " * ln((c0 / t0) / (((c0 / t0) + (c1 / t1)) / 2))"
    " ELSE CAST(0.0 AS DOUBLE) END)"
    " + 0.5 * (CASE WHEN c1 > 0 THEN (c1 / t1)"
    " * ln((c1 / t1) / (((c0 / t0) + (c1 / t1)) / 2))"
    " ELSE CAST(0.0 AS DOUBLE) END)"
    ", 12) AS DECIMAL(28,12))"
)


@register(
    "corpus_divergence",
    oracle=f"""
WITH t AS (SELECT lang, doc_id % 2 AS split, unnest({_TOKS_SQL}) AS tok
           FROM documents),
 c AS (SELECT lang, tok,
              CAST(sum(CASE WHEN split = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS c0,
              CAST(sum(CASE WHEN split = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS c1
       FROM t GROUP BY 1, 2),
 tot AS (SELECT lang, CAST(sum(c0) AS BIGINT) AS t0,
                CAST(sum(c1) AS BIGINT) AS t1
         FROM c GROUP BY 1),
 contrib AS (SELECT c.lang, {_JS_CONTRIB_SQL} AS contrib
             FROM c JOIN tot ON c.lang = tot.lang)
SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
       round(CAST(sum(contrib) AS DOUBLE), 8) AS js_divergence
FROM contrib GROUP BY lang
""",
)
def corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Jensen-Shannon divergence between the unigram term
    distributions of two corpus halves (doc_id parity stands in for
    shard/snapshot identity). JS = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2 —
    symmetric, bounded by ln 2, zero iff the halves share a distribution.

    Scale shape: ONE token-level shuffle — the conditional-sum groupBy
    (lang, tok) computes both halves' counts in a single pass (no pivot,
    no second scan), partial-agg-friendly so the explode volume reduces
    map-side. Per-language totals are a languages-sized aggregate
    broadcast back onto the vocabulary. The divergence reduction sums
    DECIMAL-rounded contributions, so it is exact regardless of partition
    order — the property that keeps a 1000-executor run bit-reproducible.
    """
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        (F.col("doc_id") % 2).alias("split"),
        F.explode(textfns.tokens(F.col("text"))).alias("tok"),
    )
    c = toks.groupBy("lang", "tok").agg(
        F.sum(F.when(F.col("split") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("split") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    tot = c.groupBy("lang").agg(
        F.sum("c0").cast("long").alias("t0"),
        F.sum("c1").cast("long").alias("t1"),
    )
    contrib = c.join(F.broadcast(tot), "lang").select(
        "lang", F.expr(_JS_CONTRIB_SQL).alias("contrib")
    )
    return contrib.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(F.sum("contrib").cast("double"), 8).alias("js_divergence"),
    )


# BM25 retrieval: a fixed keyword query scored against the whole corpus.
# Terms/k1/b are module constants so the Spark plan and the DuckDB oracle
# are generated from the SAME spec (identical expression shapes keep the
# double arithmetic bit-equal; only ln() can differ, handled by round 8).
_BM25_TERMS = ("spark", "join", "window", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_score_sql(n_terms: int | None = None) -> str:
    """The per-document BM25 score as a SQL expression over columns
    tf{i}/df{i}/dl/n_docs/sum_dl — shared verbatim by the Spark plan and
    the DuckDB oracle so both engines evaluate the identical IEEE
    expression tree (ln ulp differences absorbed by the final round)."""
    terms = []
    for i in range(len(_BM25_TERMS) if n_terms is None else n_terms):
        idf = f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        denom = (
            f"(tf{i} + {_BM25_K1} * ({1 - _BM25_B} + {_BM25_B}"
            f" * ((dl * n_docs) / sum_dl)))"
        )
        terms.append(f"{idf} * tf{i} * {_BM25_K1 + 1.0} / {denom}")
    return "round(" + " + ".join(terms) + ", 8)"


def _bm25_oracle(where: str = "", candidate_and: str = "") -> str:
    """The BM25 top-k oracle; `where` optionally restricts the corpus
    (e.g. the tombstone row's not-deleted predicate) — it lands in the
    tokenizing CTE so dl/df/n_docs/sum_dl all reflect the restriction,
    exactly like a rebuild-without-the-deleted-docs. `candidate_and`
    instead restricts only the SCORED candidates (an extra AND on the
    final WHERE), leaving the stats corpus-global — the serving-time
    metadata-filter semantics (bm25_filtered_topk)."""
    tf_cols = ",\n              ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n              ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    hits = " + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents{where}),
 d AS (SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS dl,
              {tf_cols}
       FROM t),
 s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(dl) AS BIGINT) AS sum_dl,
              {df_cols}
       FROM d)
SELECT doc_id,
       CAST({hits} AS BIGINT) AS n_hits,
       {_bm25_score_sql()} AS bm25
FROM d, s
WHERE {hits} > 0{candidate_and}
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


@register("bm25_topk_search", oracle=_bm25_oracle())
def bm25_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: score every document against a fixed
    keyword query (Robertson/Sparck-Jones idf, k1=1.2, b=0.75) and return
    the top-20 by score. Complements tfidf_top_terms (which ranks terms
    per doc); this is the doc-per-query retrieval direction a training
    pipeline uses for targeted corpus slicing.

    Scale shape: per-term tf and doc length are pure map-side
    higher-order functions over the token array (no explode, no
    per-term shuffle — the query is a literal, so each term compiles to
    one size(filter(...)) expression). Corpus-level stats (N, Σdl, per-
    term df) reduce to ONE row via a partial-aggregated agg and ride back
    as a broadcast nested-loop join, so the corpus itself never shuffles;
    the only ordered exchange is the TakeOrdered top-k. At 100 TB this is
    two corpus scans (stats + scoring) with nothing wide in between —
    persist the tokenized projection to make it one.
    """
    d = T(spark, sf_dir, "documents").select(
        "doc_id", textfns.tokens(F.col("text")).alias("toks")
    )
    def _eq(term: str):
        # single-arg closure: a two-arg lambda (x, t=term) would be bound
        # by F.filter as the (element, index) form, making t the index
        return lambda x: x == F.lit(term)

    d = d.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.size(F.filter(F.col("toks"), _eq(t)))
            .cast("long")
            .alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    hits = " + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))
    return (
        d.join(F.broadcast(stats))
        .where(F.expr(f"{hits} > 0"))
        .select(
            "doc_id",
            F.expr(f"CAST({hits} AS BIGINT)").alias("n_hits"),
            F.expr(_bm25_score_sql()).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


# Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty 2001):
# the language-modeling alternative to BM25 a retrieval stack A/B-tests
# against it. score(q, d) = sum over query terms of
# ln((tf + MU * P(t|C)) / (dl + MU)), with the collection model
# P(t|C) = cf_t / total_tokens. MU is literal TEXT shared by both
# engines (the MMR-lambda discipline); 60 ~= the corpus mean document
# length, the standard Dirichlet pseudo-count ballpark.
_QL_MU = "60.0"


def _ql_score_sql() -> str:
    """The per-document query-likelihood score as one SQL expression
    over columns tf{i}/cf{i}/dl/tot — shared verbatim by the Spark plan
    and the DuckDB oracle (identical IEEE expression tree; ln ulp
    differences absorbed by the final round, the BM25 discipline)."""
    terms = [
        f"ln((tf{i} + {_QL_MU} * (CAST(cf{i} AS DOUBLE)"
        f" / CAST(tot AS DOUBLE))) / (dl + {_QL_MU}))"
        for i in range(len(_BM25_TERMS))
    ]
    return "round(" + " + ".join(terms) + ", 8)"


def _ql_oracle() -> str:
    tf_cols = ",\n              ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    cf_cols = ",\n              ".join(
        f"CAST(sum(tf{i}) AS BIGINT) AS cf{i}"
        for i in range(len(_BM25_TERMS))
    )
    hits = " + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
 d AS (SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS dl,
              {tf_cols}
       FROM t),
 s AS (SELECT CAST(sum(dl) AS BIGINT) AS tot,
              {cf_cols}
       FROM d)
SELECT doc_id,
       CAST({hits} AS BIGINT) AS n_hits,
       {_ql_score_sql()} AS ql
FROM d, s
WHERE {hits} > 0
ORDER BY ql DESC, doc_id
LIMIT 20
"""


@register("lm_dirichlet_topk", oracle=_ql_oracle())
def lm_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    2001) over the fixed keyword query: rank documents by
    sum_t ln((tf_td + MU * cf_t / total_tokens) / (dl_d + MU)), top-20.
    The language-modeling counterpart of bm25_topk_search — same query,
    same tokenizer, a corpus unigram LM instead of idf — so the two
    rows A/B the classic probabilistic-vs-LM ranking pair on identical
    inputs. Scored candidates are docs with >= 1 query-term hit (the
    retrieval serving shape; pure-smoothing docs rank strictly by
    shortness and carry no signal).

    Scale shape (the bm25_topk_search discipline exactly): per-term tf
    and dl are map-side size(filter(...)) HOFs over the token array —
    no explode, no per-term shuffle; the corpus stats (total token
    count, per-term collection frequency cf) partial-aggregate to ONE
    row and ride back as a broadcast join, so the corpus never
    shuffles; the only ordered exchange is the TakeOrdered top-20. At
    100 TB: two corpus scans with nothing wide between them. On a
    persisted index cf would be sum(tf) over the probed postings, the
    same kind of aggregate inverted_index.bm25_search takes for df.
    """
    d = T(spark, sf_dir, "documents").select(
        "doc_id", textfns.tokens(F.col("text")).alias("toks")
    )

    def _eq(term: str):
        # single-arg closure (see bm25_topk_search: a 2-arg lambda binds
        # the (element, index) form)
        return lambda x: x == F.lit(term)

    d = d.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.size(F.filter(F.col("toks"), _eq(t)))
            .cast("long")
            .alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = d.agg(
        F.sum("dl").alias("tot"),
        *[
            F.sum(f"tf{i}").alias(f"cf{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    hits = " + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))
    return (
        d.join(F.broadcast(stats))
        .where(F.expr(f"{hits} > 0"))
        .select(
            "doc_id",
            F.expr(f"CAST({hits} AS BIGINT)").alias("n_hits"),
            F.expr(_ql_score_sql()).alias("ql"),
        )
        .orderBy(F.desc("ql"), F.asc("doc_id"))
        .limit(20)
    )


# Jelinek-Mercer interpolated BIGRAM query-likelihood retrieval: the
# sequence-aware member of the LM ranking family beside lm_dirichlet's
# unigram row. score(q, d) = sum over query bigrams (w1, w2) of
# ln(LAMBDA * P_d(w2|w1) + (1-LAMBDA) * P_C(w2|w1)) with the document
# model P_d = c_d(w1 w2)/c_d(w1 .) (0 when the doc never says w1 in a
# prefix position) and the collection model P_C = C(w1 w2)/C(w1 .).
# JM interpolation (Jelinek & Mercer 1980; Zhai & Lafferty 2001's
# lambda-smoothing) never hits ln(0): a cf > 0 guard in the score
# SKIPS query bigrams with no corpus support (the standard OOV
# treatment — enforced structurally, not assumed of the query list),
# and for supported bigrams the collection term keeps each factor
# positive. LAMBDA is literal TEXT shared by both engines (the
# MMR-lambda discipline).
_JM_LAMBDA = "0.7"
_JM_LAMBDA_C = "0.3"
_JM_BIGRAMS = (("hash", "join"), ("sort", "merge"), ("table", "scan"))


def _jm_score_sql() -> str:
    """Per-document JM bigram score over columns tf{i}/pc{i}/cf{i}/
    cpf{i} — ONE expression string shared verbatim by the Spark plan
    and the DuckDB oracle (identical IEEE tree; ln ulp differences
    absorbed by the final round, the lm_dirichlet discipline).

    Each term is guarded by cf{i} > 0 (r13 ADVICE): a query bigram
    with NO corpus occurrences is skipped (contributes exactly 0.0) —
    the standard OOV-n-gram treatment — instead of relying on the
    fixed _JM_BIGRAMS list happening to have corpus support. The one
    guard covers both divisions: cf > 0 implies cpf > 0 (every bigram
    occurrence IS a prefix occurrence of its first word, so cpf >= cf),
    and it keeps ln's argument strictly positive (the collection term
    is then > 0 even when the document term is 0). Without it, cpf = 0
    would diverge cross-engine (Spark double division -> NULL, DuckDB
    IEEE -> NaN/inf) and cf = 0 with tf = 0 would hit ln(0) (Spark
    NULL vs DuckDB -inf). On corpora where every query bigram has
    support — including this testdata — the guarded score is
    bit-identical to the unguarded one."""
    terms = [
        f"(CASE WHEN cf{i} > 0 THEN"
        f" ln({_JM_LAMBDA} * (CASE WHEN pc{i} > 0 THEN"
        f" CAST(tf{i} AS DOUBLE) / pc{i} ELSE CAST(0.0 AS DOUBLE) END)"
        f" + {_JM_LAMBDA_C} * (CAST(cf{i} AS DOUBLE)"
        f" / CAST(cpf{i} AS DOUBLE)))"
        f" ELSE CAST(0.0 AS DOUBLE) END)"
        for i in range(len(_JM_BIGRAMS))
    ]
    return "round(" + " + ".join(terms) + ", 8)"


def _jm_oracle() -> str:
    tf_cols = ",\n           ".join(
        f"CAST(len(list_filter(range(1, len(toks)), i -> toks[i] = '{a}'"
        f" AND toks[i+1] = '{b}')) AS BIGINT) AS tf{i}"
        for i, (a, b) in enumerate(_JM_BIGRAMS)
    )
    pc_cols = ",\n           ".join(
        f"CAST(len(list_filter(range(1, len(toks)),"
        f" i -> toks[i] = '{a}')) AS BIGINT) AS pc{i}"
        for i, (a, _) in enumerate(_JM_BIGRAMS)
    )
    stat_cols = ",\n           ".join(
        f"CAST(sum(tf{i}) AS BIGINT) AS cf{i},"
        f" CAST(sum(pc{i}) AS BIGINT) AS cpf{i}"
        for i in range(len(_JM_BIGRAMS))
    )
    hits = " + ".join(f"tf{i}" for i in range(len(_JM_BIGRAMS)))
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
 d AS (SELECT doc_id,
           {tf_cols},
           {pc_cols}
       FROM t),
 s AS (SELECT {stat_cols} FROM d)
SELECT doc_id,
       CAST({hits} AS BIGINT) AS n_hits,
       {_jm_score_sql()} AS jm
FROM d, s
WHERE {hits} > 0
ORDER BY jm DESC, doc_id
LIMIT 20
"""


@register("jm_bigram_lm_topk", oracle=_jm_oracle())
def jm_bigram_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated bigram query-likelihood retrieval
    over a fixed 3-bigram phrase query, top-20: rank documents by
    sum_bg ln(lambda * c_d(w1 w2)/c_d(w1 .) + (1-lambda) *
    C(w1 w2)/C(w1 .)) — the SEQUENCE-aware LM ranking member beside
    lm_dirichlet's unigram row (same corpus, same tokenizer), so the
    catalog A/Bs unigram-Dirichlet vs bigram-JM on identical inputs.
    Scored candidates are docs with >= 1 query-bigram hit (the
    retrieval serving shape).

    Scale shape (the lm_dirichlet discipline exactly): per-bigram tf
    and prefix counts are map-side size(filter(sequence(...))) HOFs
    over the token array — positional bigram matching with NO explode
    and NO per-term shuffle (the corpus's (w1,w2) bigram table is never
    materialized, unlike the perplexity row that needs ALL bigrams);
    the corpus stats (collection bigram/prefix counts) partial-
    aggregate to ONE broadcast row; the only ordered exchange is the
    TakeOrdered top-20. At 100 TB: two corpus scans with nothing wide
    between them, and the bigram counts are exactly what a positional
    index's phrase postings already store.

    Determinism: counts are exact BIGINTs off string equality; the
    score is ONE shared expression string evaluated over identical
    integers in both engines (lambda as literal text), rounded to 8 dp
    before the (jm DESC, doc_id) total order."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", textfns.tokens(F.col("text")).alias("toks")
    )
    # Materialize the positional bigram view ONCE per document (the
    # first cut ran SIX independent sequence()+element_at HOFs — one
    # per tf/pc column — and benched 7.0-8.6s vs lm_dirichlet's 0.8s;
    # one slice+zip_with pass feeding six cheap equality filters prices
    # the row back in the LM band). Tokens are whitespace-split, so the
    # single-space joiner cannot collide. Counts are the SAME exact
    # integers, so the DuckDB oracle (positional list_filter replay) is
    # untouched; the prefix count over positions 1..n-1 becomes a
    # whole-array count minus a last-token correction.
    d = d.select(
        "doc_id",
        "toks",
        F.expr(
            "CASE WHEN size(toks) >= 2 THEN"
            " zip_with(slice(toks, 1, size(toks) - 1),"
            "          slice(toks, 2, size(toks) - 1),"
            "          (x, y) -> concat(x, ' ', y))"
            " ELSE array() END"
        ).alias("bgs"),
    )
    tf_exprs = [
        F.expr(f"size(filter(bgs, v -> v = '{a} {b}'))")
        .cast("long")
        .alias(f"tf{i}")
        for i, (a, b) in enumerate(_JM_BIGRAMS)
    ]
    pc_exprs = [
        F.expr(
            # prefix positions are 1..n-1: whole-array count minus the
            # last token (a 1-token doc correctly yields 0)
            f"size(filter(toks, v -> v = '{a}'))"
            " - (CASE WHEN size(toks) >= 1"
            f"         AND element_at(toks, size(toks)) = '{a}'"
            "     THEN 1 ELSE 0 END)"
        )
        .cast("long")
        .alias(f"pc{i}")
        for i, (a, _) in enumerate(_JM_BIGRAMS)
    ]
    d = d.select("doc_id", *tf_exprs, *pc_exprs)
    stats = d.agg(
        *[
            agg
            for i in range(len(_JM_BIGRAMS))
            for agg in (
                F.sum(f"tf{i}").alias(f"cf{i}"),
                F.sum(f"pc{i}").alias(f"cpf{i}"),
            )
        ]
    )
    hits = " + ".join(f"tf{i}" for i in range(len(_JM_BIGRAMS)))
    return (
        d.join(F.broadcast(stats))
        .where(F.expr(f"{hits} > 0"))
        .select(
            "doc_id",
            F.expr(f"CAST({hits} AS BIGINT)").alias("n_hits"),
            F.expr(_jm_score_sql()).alias("jm"),
        )
        .orderBy(F.desc("jm"), F.asc("doc_id"))
        .limit(20)
    )


# RM3 pseudo-relevance feedback: pass-1 BM25 picks _RM3_FB feedback
# docs, their _RM3_EXP strongest non-query non-stop-ish terms join the
# query at weight _RM3_W, pass-2 scores the corpus over the expanded
# weighted term set. The per-(doc, term) contribution is ONE shared
# expression over columns (tw, tf, df, dl, n_docs, sum_dl); each
# contribution rounds to 10 dp and sums as DECIMAL (exact,
# order-independent — the corpus_divergence discipline), final round 8.
_RM3_FB = 10  # feedback depth (pass-1 top-N)
_RM3_EXP = 3  # expansion terms
_RM3_W = 0.5  # expansion term weight (query terms weigh 1.0)
_RM3_CONTRIB_SQL = (
    "CAST(round("
    "tw * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
    f" * tf * {_BM25_K1 + 1.0}"
    f" / (tf + {_BM25_K1} * ({1 - _BM25_B} + {_BM25_B}"
    " * ((dl * n_docs) / sum_dl)))"
    ", 10) AS DECIMAL(28,10))"
)


def _rm3_oracle() -> str:
    """Pass-1 BM25 feedback verbatim from the shared spec, expansion by
    feedback term mass, pass-2 weighted scoring over tf rows."""
    tf_cols = ",\n           ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n           ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    hits = " + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))
    qlist = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
 d1 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, {tf_cols} FROM t),
 s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS sum_dl,
               {df_cols}
        FROM d1),
 fb AS (SELECT doc_id, {_bm25_score_sql()} AS bm25
        FROM d1, s1 WHERE {hits} > 0
        ORDER BY bm25 DESC, doc_id LIMIT {_RM3_FB}),
 tfx AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
         GROUP BY doc_id, tok),
 dfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tfx GROUP BY tok),
 fbtf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS fb_tf
          FROM tfx WHERE doc_id IN (SELECT doc_id FROM fb)
          GROUP BY tok),
 exp AS (SELECT tok FROM fbtf
         WHERE tok NOT IN ({qlist})
         ORDER BY fb_tf DESC, tok LIMIT {_RM3_EXP}),
 terms AS (SELECT unnest([{qlist}]) AS tok, CAST(1.0 AS DOUBLE) AS tw
           UNION ALL
           SELECT tok, CAST({_RM3_W} AS DOUBLE) FROM exp),
 dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
 contrib AS (SELECT tfx.doc_id, {_RM3_CONTRIB_SQL} AS c
             FROM tfx
             JOIN terms ON tfx.tok = terms.tok
             JOIN dfr ON tfx.tok = dfr.tok
             JOIN dl ON tfx.doc_id = dl.doc_id
             CROSS JOIN s1)
SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 8) AS rm3
FROM contrib GROUP BY doc_id
ORDER BY rm3 DESC, doc_id LIMIT 20
"""


@register("rm3_query_expansion_topk", oracle=_rm3_oracle())
def rm3_query_expansion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (RM3, Lavrenko & Croft's
    relevance-model family as used by Anserini/Indri defaults): run the
    fixed keyword query, take the top-10 feedback documents, promote
    their 3 strongest non-query terms (by total feedback tf — no df
    gate: BM25's idf already self-damps a common expansion term, and a
    hard df cap would empty the expansion on corpora whose whole
    vocabulary is common, like this synthetic one) into the query at
    half weight,
    and re-score the corpus over the expanded weighted term set. This is
    the classic recall-expanding second pass a retrieval stack layers on
    BM25 when the literal query undersells the topic.

    Scale shape: pass 1 is the pinned bm25_topk_search plan (map-side
    HOF tf columns, 1-row broadcast stats, TakeOrdered-10). The
    feedback term mass is a semi-join of the tf table against 10 doc
    ids (broadcast), reduced per token; the expansion pick is a
    3-row TakeOrdered over the vocabulary. Pass 2 joins the tf table
    against a 7-row broadcast term-weight frame — the corpus-sized
    side is filtered to matching tokens BEFORE any shuffle — and
    reduces per doc with exact DECIMAL contribution sums (the
    corpus_divergence discipline; expansion terms stay Column values,
    never interpolated into SQL). Ends in TakeOrdered-20.

    Read amplification (VERDICT r11 #1): the tokenized frames are each
    re-referenced downstream — d1 by s1 and fb, tfx by dfr/fbtf/contrib,
    plus a separate dl projection — and un-checkpointed lineage inlines
    the documents scan + re-tokenization once per reference: the
    executed plan read the corpus SEVEN times. Both frames are EAGERLY
    localCheckpoint'ed (the sparse_cosine_pairs discipline) and dl is
    derived from d1 instead of a third tokenization, so the executed
    plan now scans documents exactly TWICE (once building d1's fixed
    -term tf columns, once building the full posting list) — the honest
    minimum for a two-representation retrieval pass. At 100 TB that is
    the difference between 2x and 7x corpus I/O per expanded query."""
    t = T(spark, sf_dir, "documents").select(
        "doc_id", textfns.tokens(F.col("text")).alias("toks")
    )

    def _eq(term: str):
        return lambda x: x == F.lit(term)

    d1 = t.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.size(F.filter(F.col("toks"), _eq(tm)))
            .cast("long")
            .alias(f"tf{i}")
            for i, tm in enumerate(_BM25_TERMS)
        ],
    ).localCheckpoint(eager=True)
    s1 = d1.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    hits = " + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))
    fb = (
        d1.join(F.broadcast(s1))
        .where(F.expr(f"{hits} > 0"))
        .select("doc_id", F.expr(_bm25_score_sql()).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_RM3_FB)
        .select("doc_id")
    )
    tfx = (
        t.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    ).localCheckpoint(eager=True)
    dfr = tfx.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    fbtf = (
        tfx.join(F.broadcast(fb), "doc_id", "left_semi")
        .groupBy("tok")
        .agg(F.sum("tf").cast("long").alias("fb_tf"))
    )
    exp = (
        fbtf.where(~F.col("tok").isin(*_BM25_TERMS))
        .orderBy(F.desc("fb_tf"), F.asc("tok"))
        .limit(_RM3_EXP)
        .select("tok", F.lit(float(_RM3_W)).alias("tw"))
    )
    qterms = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(tm) for tm in _BM25_TERMS])
        ).alias("tok"),
        F.lit(1.0).alias("tw"),
    )
    terms = qterms.unionByName(exp)
    # dl from the checkpointed d1, not a third tokenization pass; the
    # inner join on tfx's doc_ids makes the superset (docs with empty
    # token arrays never reach tfx) semantically identical.
    dl = d1.select("doc_id", "dl")
    contrib = (
        tfx.join(F.broadcast(terms), "tok")
        .join(dfr, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(s1.select("n_docs", "sum_dl")))
        .select("doc_id", F.expr(_RM3_CONTRIB_SQL).alias("c"))
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.round(F.sum("c").cast("double"), 8).alias("rm3"))
        .orderBy(F.desc("rm3"), F.asc("doc_id"))
        .limit(20)
    )


_NLL_SQL = (
    "CAST(round(-ln((cb + CAST(0.5 AS DOUBLE))"
    " / (cw1 + CAST(0.5 AS DOUBLE) * v)), 12) AS DECIMAL(28,12))"
)


@register(
    "bigram_lm_perplexity",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents),
 bl AS (SELECT doc_id, lang,
              unnest(list_transform(range(1, len(toks)),
                i -> {{'w1': toks[i], 'w2': toks[i+1]}})) AS u
        FROM t WHERE len(toks) >= 2),
 bg AS (SELECT doc_id, lang, u.w1 AS w1, u.w2 AS w2 FROM bl),
 lm AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS cb
        FROM bg GROUP BY 1, 2, 3),
 prefix AS (SELECT lang, w1, CAST(sum(cb) AS BIGINT) AS cw1
            FROM lm GROUP BY 1, 2),
 vocab AS (SELECT lang, CAST(count(DISTINCT w2) AS BIGINT) AS v
           FROM lm GROUP BY 1),
 scored AS (SELECT bg.doc_id, bg.lang, {_NLL_SQL} AS nll
            FROM bg
            JOIN lm USING (lang, w1, w2)
            JOIN prefix USING (lang, w1)
            JOIN vocab USING (lang))
SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(nll) AS DOUBLE) / count(*), 8) AS avg_nll,
       round(exp(CAST(sum(nll) AS DOUBLE) / count(*)), 6) AS ppl
FROM scored GROUP BY doc_id, lang
""",
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an add-0.5-smoothed bigram LM trained
    on the same corpus per language — the CCNet-style LM quality filter
    (see operators/textops.bigram_lm_perplexity for the full scale
    rationale: one bigram-level shuffle builds the LM, the scoring join
    probes the same key, prefix/vocab ride back broadcast, and the per-doc
    nll reduction is a 12-dp DECIMAL sum, bit-reproducible under any
    partitioning)."""
    return textops.bigram_lm_perplexity(T(spark, sf_dir, "documents"))


@register("bm25_persisted_topk", oracle=_bm25_oracle())
def bm25_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index form of bm25_topk_search (same oracle: the
    served path must be semantics-preserving): invert the corpus ONCE into
    md5-bucketed posting lists with denormalized doc lengths + a 1-row
    stats table (operators/inverted_index.build_inverted_index),
    then answer the same keyword query touching ONLY the buckets its terms
    hash to (parquet PartitionFilters) with the term set pushed into each
    bucket's scan; each term's df is counted over the postings the query
    reads. This is the production 100 TB retrieval layout: query
    cost scales with posting-list sizes, not corpus size — the inline form
    re-scans every document per query."""
    from migrate_cassandra_to_mysql_spark.operators import inverted_index
    from migrate_cassandra_to_mysql_spark.plans._work import memo, workdir

    docs = T(spark, sf_dir, "documents")

    def _build() -> str:
        d = workdir("mc2m_invidx_")
        inverted_index.build_inverted_index(docs, d)
        return d

    index_dir = memo(("inverted_index", sf_dir), _build)
    return inverted_index.bm25_search(
        spark, index_dir, _BM25_TERMS, k=20, score_sql=_bm25_score_sql()
    )


# Tombstone-delete victims for the persisted-index deletion rows: a
# deterministic ~1% slice (doc/vec ids 13, 110, 207, 304, 401 over the
# 0..499 id range), disjoint from the vector rows' % 100 == 0 query set,
# and expressible identically in Spark and DuckDB.
_TOMBSTONE_MOD, _TOMBSTONE_RESIDUE = 97, 13


@register(
    "bm25_tombstone_topk",
    oracle=_bm25_oracle(
        where=f" WHERE doc_id % {_TOMBSTONE_MOD} <> {_TOMBSTONE_RESIDUE}"
    ),
)
def bm25_tombstone_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bm25_persisted_topk through the DELETION lifecycle: build the
    persisted inverted index, delete_docs a deterministic ~1% victim
    slice (the right-to-be-forgotten / takedown path), then serve the
    same keyword query. The oracle is the plain BM25 SQL over the corpus
    MINUS the victims — i.e. served scores must equal an index rebuilt
    without them, which is the tombstone contract: deletions are visible
    the moment their manifest commits (broadcast anti-join on a
    deletion-sized tombstone layer), df/n_docs/sum_dl refresh excluding
    the victims, and the physical purge rides the next compaction
    (operators/inverted_index.delete_docs; lifecycle incl. post-purge
    equality pinned in tests/test_inverted_index.py).

    Scale shape: identical to bm25_persisted_topk serving — term-bucket
    PartitionFilters, posting-list-sized reads — plus one broadcast
    anti-join; delete cost is O(tombstones) + the derived-layer refresh,
    never a corpus rewrite."""
    from migrate_cassandra_to_mysql_spark.operators import inverted_index
    from migrate_cassandra_to_mysql_spark.plans._work import memo, workdir

    docs = T(spark, sf_dir, "documents")

    def _build() -> str:
        d = workdir("mc2m_invidx_del_")
        inverted_index.build_inverted_index(docs, d)
        inverted_index.delete_docs(
            spark,
            d,
            docs.select("doc_id").where(
                F.col("doc_id") % _TOMBSTONE_MOD == _TOMBSTONE_RESIDUE
            ),
        )
        return d

    index_dir = memo(("inverted_index_tombstone", sf_dir), _build)
    return inverted_index.bm25_search(
        spark, index_dir, _BM25_TERMS, k=20, score_sql=_bm25_score_sql()
    )


# Serving-time metadata filter for the filtered-retrieval rows: a
# predicate every corpus slice request looks like in production
# ("English docs only"), ~44% selective on the synthetic corpus.
_FILTER_LANG = "en"


@register(
    "bm25_filtered_topk",
    oracle=_bm25_oracle(
        candidate_and=(
            "\n  AND doc_id IN (SELECT doc_id FROM documents"
            f" WHERE lang = '{_FILTER_LANG}')"
        )
    ),
)
def bm25_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED retrieval over the persisted inverted index: the same
    keyword query as bm25_persisted_topk, restricted at serving time to
    documents with lang = 'en' — the metadata-filtered search every
    production retrieval API exposes (tenant/language/licence slices).
    Semantics: the filter restricts CANDIDATES only; df/n_docs/sum_dl
    stay corpus-global (you don't re-derive IDF per filter — contrast
    bm25_tombstone_topk, where deletion DOES refresh the stats because
    a tombstone means "as if rebuilt without it"). The oracle encodes
    exactly that split: global stats CTEs, filtered final WHERE.

    Scale shape: identical probe-pruned serving reads as
    bm25_persisted_topk (term-bucket PartitionFilters, posting-list-
    sized scan) plus ONE broadcast left-semi join of the allowed-id set
    onto the postings before the pivot groupBy — the sole data shuffle
    is sized by matching∩allowed docs, and the filter set itself comes
    from a pruned metadata-table scan (lang pushes down to the
    documents scan; only doc_id survives projection). Shares the
    memoized index build with bm25_persisted_topk — one index serves
    filtered and unfiltered queries alike, which is the point:
    filtering is a query-time predicate, not an index variant."""
    from migrate_cassandra_to_mysql_spark.operators import inverted_index
    from migrate_cassandra_to_mysql_spark.plans._work import memo, workdir

    docs = T(spark, sf_dir, "documents")

    def _build() -> str:
        d = workdir("mc2m_invidx_")
        inverted_index.build_inverted_index(docs, d)
        return d

    index_dir = memo(("inverted_index", sf_dir), _build)
    return inverted_index.bm25_search(
        spark,
        index_dir,
        _BM25_TERMS,
        k=20,
        score_sql=_bm25_score_sql(),
        allowed=docs.where(F.col("lang") == _FILTER_LANG).select("doc_id"),
    )


@register("bm25_sharded_merge_topk", oracle=_bm25_oracle())
def bm25_sharded_merge_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARD CONSOLIDATION end to end: the corpus is indexed as two
    independent half-corpus shards (doc_id parity — the per-day /
    per-source / per-tenant build pattern), merged into one index by
    operators/inverted_index.merge_indexes, and the merged index
    answers the standard keyword query. The oracle is the PLAIN
    corpus-wide BM25 SQL — i.e. the driver verifies that merging moves
    postings (no re-tokenization, zero shuffle: per-bucket coalesce of
    the shards' same-bucket files, since the md5 term hash is
    shard-independent) and recomputes stats with NOTHING lost or
    double-counted vs a single-pass build.

    Scale shape: the merge is the index-maintenance workflow at 100 TB
    (build shards where the data lands, consolidate for serving); its
    cost is one posting-volume rewrite with driver-side file listing —
    no corpus scan, no wide exchange — plus a driver-side comparison of
    the shards' recorded bucket counts and the doc-count-sized
    disjointness guard. Serving
    on the merged index is byte-identical to bm25_persisted_topk's
    plan: term-bucket PartitionFilters + pushed term set. Build+merge
    memoized per sf_dir (consolidate-once/serve-many)."""
    from migrate_cassandra_to_mysql_spark.operators import inverted_index
    from migrate_cassandra_to_mysql_spark.plans._work import memo, workdir

    docs = T(spark, sf_dir, "documents")

    def _build() -> str:
        # Per-shard rebuild is DELIBERATE (r15 negative result, guide
        # §1.1): encoding once and writing both shards from persisted
        # (toks, postings) slices was A/B'd and lost 4.1s -> 15.6s —
        # materializing token/posting frames into the block cache
        # costs more than the two extra cheap tokenize passes it
        # saves (whitespace split is 0.4s/corpus-pass at sf0.1).
        a = workdir("mc2m_shard_a_")
        b = workdir("mc2m_shard_b_")
        m = workdir("mc2m_merged_")
        inverted_index.build_inverted_index(
            docs.where(F.col("doc_id") % 2 == 0), a
        )
        inverted_index.build_inverted_index(
            docs.where(F.col("doc_id") % 2 == 1), b
        )
        inverted_index.merge_indexes(spark, [a, b], m)
        return m

    index_dir = memo(("inverted_index_sharded_merge", sf_dir), _build)
    return inverted_index.bm25_search(
        spark, index_dir, _BM25_TERMS, k=20, score_sql=_bm25_score_sql()
    )


_CHUNK_W = 32  # tokens per chunk (the training context window)
_CHUNK_S = 24  # stride (W - S = 8 tokens of overlap between chunks)


def _passage_bm25_oracle() -> str:
    """Passage retrieval oracle: chunk every document into the
    doc_chunking windows, BM25-score each CHUNK as the retrieval unit
    (chunk-level dl/df/n_docs/sum_dl — the collection is the chunk
    set), then max-pool per document (best chunk wins, lowest chunk_idx
    on score ties) and return the top-10 documents."""
    tf_cols = ",\n              ".join(
        f"CAST(len(list_filter(ctoks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n              ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    hits = " + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
 s AS (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks), {_CHUNK_S})) AS start
       FROM t),
 c AS (SELECT doc_id,
              CAST((start - 1) / {_CHUNK_S} AS BIGINT) AS chunk_idx,
              list_slice(toks, start, start + {_CHUNK_W} - 1) AS ctoks
       FROM s),
 d AS (SELECT doc_id, chunk_idx,
              CAST(len(ctoks) AS BIGINT) AS dl,
              {tf_cols}
       FROM c),
 st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS sum_dl,
               {df_cols}
        FROM d),
 scored AS (SELECT doc_id, chunk_idx,
                   CAST({hits} AS BIGINT) AS n_hits,
                   {_bm25_score_sql()} AS bm25
            FROM d, st
            WHERE {hits} > 0),
 pooled AS (SELECT doc_id, chunk_idx AS best_chunk_idx,
                   n_hits AS best_chunk_hits, bm25
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY bm25 DESC, chunk_idx) AS crnk
                  FROM scored) x
            WHERE crnk = 1)
SELECT doc_id, best_chunk_idx, best_chunk_hits, bm25
FROM pooled
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


@register("passage_bm25_doc_topk", oracle=_passage_bm25_oracle())
def passage_bm25_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level retrieval with document max-pooling — the RAG /
    long-document pattern (TREC 'MaxP'): long documents lose keyword
    concentration under whole-doc BM25, so score every doc_chunking
    context window as its OWN retrieval unit (chunk-level tf/dl and
    chunk-collection df/n_docs/sum_dl) and rank documents by their BEST
    chunk (ties to the earliest chunk), returning the winning chunk's
    position for snippet/citation use.

    Scale shape: chunking + per-chunk tf are pure map-side HOFs over
    the token array (the doc_chunking explode; chunk token arrays are
    sliced in place, chunk TEXT is never materialized or shuffled);
    chunk-collection stats partial-agg to ONE broadcast row; max-pool
    is one per-doc window over only the chunks that HIT any query term
    (the WHERE lands before the exchange, so the shuffle carries
    matching chunks, not the corpus); TakeOrdered ends the plan. Two
    data exchanges total at any corpus size."""
    d = T(spark, sf_dir, "documents")
    toks = textfns.tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(_CHUNK_S))
    c = d.select(
        "doc_id", toks.alias("toks"), F.explode(starts).alias("start")
    ).select(
        "doc_id",
        ((F.col("start") - 1) / _CHUNK_S).cast("long").alias("chunk_idx"),
        F.slice("toks", F.col("start"), _CHUNK_W).alias("ctoks"),
    )

    def _eq(term: str):
        # single-arg closure (see bm25_topk_search: a 2-arg lambda binds
        # as the (element, index) form)
        return lambda x: x == F.lit(term)

    scored_in = c.select(
        "doc_id",
        "chunk_idx",
        F.size("ctoks").cast("long").alias("dl"),
        *[
            F.size(F.filter(F.col("ctoks"), _eq(t)))
            .cast("long")
            .alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = scored_in.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    hits = " + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))
    scored = (
        scored_in.join(F.broadcast(stats))
        .where(F.expr(f"{hits} > 0"))
        .select(
            "doc_id",
            "chunk_idx",
            F.expr(f"CAST({hits} AS BIGINT)").alias("n_hits"),
            F.expr(_bm25_score_sql()).alias("bm25"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("bm25"), F.asc("chunk_idx")
    )
    pooled = (
        scored.withColumn("crnk", F.row_number().over(w))
        .where(F.col("crnk") == 1)
        .select(
            "doc_id",
            F.col("chunk_idx").alias("best_chunk_idx"),
            F.col("n_hits").alias("best_chunk_hits"),
            "bm25",
        )
    )
    return pooled.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(10)


@register("bpe_merge_training")
def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-table training (8 merges) over the
    documents corpus — the tokenizer-TRAINING twin of bpe_token_count
    (which applies a fixed tokenization). See operators/bpe.py for the
    algorithm and scale rationale: one corpus pass builds the
    vocabulary-sized (word, freq) frame, every merge iteration then runs
    on the vocabulary only, with a single 1-row argmax crossing to the
    driver per round (the algorithm's irreducible sync point).

    No oracle: the merge sequence is data-dependent ACROSS iterations
    (step k+1 consumes step k's rewrite), which a single SQL statement
    cannot express — this is the rows-only class the harness reserves
    for iterative algorithms; exactness is pinned against a pure-Python
    reference with the identical tie-break in tests/test_bpe.py. Output
    is deterministic for a given corpus, so the rows-only check is
    stable. Training is memoized per sf_dir (train-once/serve-many, the
    codebook convention)."""
    from migrate_cassandra_to_mysql_spark.operators import bpe
    from migrate_cassandra_to_mysql_spark.plans._work import memo

    rows = memo(
        ("bpe_merges", sf_dir),
        lambda: bpe.train_bpe(T(spark, sf_dir, "documents"), n_merges=8),
    )
    return local_frame(
        spark, rows, "rank long, left string, right string, pair_freq long"
    )


# Fixed merge table for the oracle-checked BPE APPLY path (the trained
# table is data-dependent and rides the rows-only trainer above; applying
# a KNOWN table is the deployable-tokenizer behavior and is fully
# SQL-expressible as a chained replace()).
_BPE_FIXED_MERGES = [("t", "h"), ("th", "e"), ("a", "n"), ("e", "r")]


def _bpe_apply_oracle() -> str:
    from migrate_cassandra_to_mysql_spark.operators.bpe import (
        SEP,
        apply_merges_sql,
    )

    sym = f"'{SEP}{SEP}' || array_to_string(string_split(w, ''), '{SEP}{SEP}') || '{SEP}{SEP}'"
    applied = apply_merges_sql(sym, _BPE_FIXED_MERGES)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_words,
       CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT)
         AS n_chars,
       CAST(list_sum(list_transform(toks,
         w -> len(string_split({applied}, '{SEP}{SEP}')) - 2)) AS BIGINT)
         AS n_bpe_tokens
FROM t
"""


@register("bpe_apply_fixed", oracle=_bpe_apply_oracle())
def bpe_apply_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every document with a FIXED 4-merge BPE table — the
    serving twin of bpe_merge_training: once the table is known, the
    whole tokenization compiles to a chained replace() over each word's
    separator-guarded symbol string, entirely map-side (zero shuffle,
    zero Python, whole-stage codegen), and the greedy left-to-right
    semantics are oracle-checked against DuckDB's identical replace
    chain. Output: per-doc word / char / BPE-token counts."""
    from migrate_cassandra_to_mysql_spark.operators.bpe import (
        SEP,
        apply_merges_sql,
    )

    sym = (
        f"concat('{SEP}{SEP}', concat_ws('{SEP}{SEP}', split(w, '')),"
        f" '{SEP}{SEP}')"
    )
    applied = apply_merges_sql(sym, _BPE_FIXED_MERGES)
    d = T(spark, sf_dir, "documents").select(
        "doc_id", textfns.tokens(F.col("text")).alias("toks")
    )
    return d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        F.expr(
            "CAST(aggregate(toks, 0L, (acc, w) -> acc + length(w))"
            " AS BIGINT)"
        ).alias("n_chars"),
        F.expr(
            f"CAST(aggregate(transform(toks,"
            f" w -> size(split({applied}, '{SEP}{SEP}')) - 2),"
            f" 0L, (acc, x) -> acc + x) AS BIGINT)"
        ).alias("n_bpe_tokens"),
    )


def _simhash_oracle(n_bits: int = 32) -> str:
    """SQL twin of dedup.simhash32_md5, generated from the same bit loop."""
    votes = ",\n        ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(n_bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST(1 AS BIGINT) << {i} ELSE 0 END)"
        for i in range(n_bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
 h AS (SELECT doc_id,
              CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) AS h
       FROM toks),
 votes AS (SELECT doc_id, {votes}
           FROM h GROUP BY doc_id)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes
"""


@register("simhash_signatures", oracle=_simhash_oracle())
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document via md5-derived token hashes (bit votes
    summed in one partial-agg groupBy). md5 is the hash both engines share,
    so the full algorithm — tokenize, hash, vote, sign — is differentially
    tested against the generated SQL twin. The 64-bit xxhash64 production
    variant (dedup.simhash64) keeps its invariant tests in
    tests/test_extension_ops.py."""
    return dedup.simhash32_md5(T(spark, sf_dir, "documents"))


def _simhash_band_oracle(n_bands: int = 4, max_hamming: int = 3) -> str:
    """SQL twin of dedup.simhash_band_candidates: band the signature
    (the simhash oracle verbatim), self-join on band keys, confirm with
    popcount of the XOR'd signatures."""
    band_vals = ",".join(f"({b})" for b in range(n_bands))
    return f"""
WITH sig AS ({_simhash_oracle()}),
 bands AS (
   SELECT doc_id, simhash, b.band,
          (simhash >> (b.band * 8)) & 255 AS band_key
   FROM sig CROSS JOIN (VALUES {band_vals}) AS b(band)),
 agg AS (
   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          a.simhash AS sim_a, b.simhash AS sim_b,
          CAST(count(*) AS BIGINT) AS n_bands
   FROM bands a JOIN bands b
     ON a.band = b.band AND a.band_key = b.band_key
    AND a.doc_id < b.doc_id
   GROUP BY 1, 2, 3, 4)
SELECT doc_a, doc_b, n_bands,
       CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM agg
WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
"""


@register("simhash_near_dup", oracle=_simhash_band_oracle())
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-LSH near-dup pairs over the 32-bit SimHash (Manku et al.
    WWW'07 banding): 4 bands of 8 bits guarantee zero false negatives up
    to Hamming distance 3, and every banded candidate is confirmed with
    an exact xor+popcount — so unlike MinHash's probabilistic S-curve the
    result is exactly {pairs : hamming <= 3}. Bucket-unfold plan (no
    self-join, signatures computed once, text never shuffles); see
    operators/dedup.py:simhash_band_candidates for the scale rationale."""
    return dedup.simhash_band_candidates(T(spark, sf_dir, "documents"))


_MM_HIST = ", ".join(
    f"CAST(len(list_filter(codes, c -> c = {k})) AS VARCHAR)" for k in range(8)
)

_MM_DECODE_ORACLE = f"""
WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents),
 c AS (SELECT doc_id, n,
              list_transform(range(1, n + 1),
                             i -> ascii(substr(text, i, 1)) % 8) AS codes
       FROM b)
SELECT doc_id,
       CAST(n + CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 21 END
            AS BIGINT) AS n_bytes,
       CAST(doc_id % 640 + 1 AS INTEGER) AS width,
       CAST(doc_id % 480 + 1 AS INTEGER) AS height,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
       concat_ws(',', {_MM_HIST}) AS hist
FROM c
"""


@register("multimodal_decode", oracle=_MM_DECODE_ORACLE)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched binary decode pipeline (operators/multimodal.py):
    each document is wrapped in a REAL container header (PNG signature +
    CRC-valid IHDR for even doc_ids, JPEG SOI + SOF0 for odd — built
    JVM-side from hex + crc32 column expressions), then mapInPandas
    parses width/height/format back out of the raw header BYTES the way
    an image library's header sniffer does, plus an 8-bucket byte
    histogram of the body. The oracle recomputes every field
    arithmetically (dimensions/format from doc_id, n_bytes = text length
    + 33 or 21 header bytes, histogram per-char in SQL — documents.text
    is ASCII so char codes == bytes); a parse that misreads any header
    byte hash-mismatches. Histogram compared as a comma-joined integer
    string — exact, no float formatting in the hash."""
    from migrate_cassandra_to_mysql_spark.operators import multimodal

    docs = T(spark, sf_dir, "documents")
    decoded = multimodal.decode_assets(multimodal.attach_binary_payload(docs))
    return decoded.select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        "format",
        F.concat_ws(",", F.col("hist").cast("array<string>")).alias("hist"),
    )


@register(
    "audio_meta_decode",
    oracle="""
SELECT doc_id,
       CAST(44 + octet_length(encode(text)) AS BIGINT) AS n_bytes,
       'wav' AS format,
       CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                            WHEN 2 THEN 22050 ELSE 44100 END
            AS INTEGER) AS sample_rate,
       CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END
            AS INTEGER) AS bits,
       CAST(doc_id % 48000 + 1 AS BIGINT) AS n_samples,
       CAST(((doc_id % 48000 + 1) * 1000)
            // CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                               WHEN 2 THEN 22050 ELSE 44100 END
            AS BIGINT) AS duration_ms,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_body_bytes
FROM documents
""",
)
def audio_meta_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUDIO member of the multimodal decode family: each document
    is wrapped in a REAL canonical 44-byte PCM WAV header (RIFF/WAVE +
    fmt + data chunk declarations, all little-endian fields built
    JVM-side from hex column expressions — operators/multimodal.
    wav_header), then mapInPandas walks the RIFF chunk list and parses
    sample_rate / channels / bits / n_samples / duration back out of
    the raw header BYTES the way soundfile's header sniffing does. The
    oracle recomputes every field arithmetically (the acoustic params
    derive from doc_id), so a parse that misreads any byte or
    endianness hash-mismatches. Only the PCM sample decode (a codec)
    stays out of scope, as with the image pair; poison-byte inputs
    degrade to format='unknown' (fuzz-pinned, never a stage kill)."""
    from migrate_cassandra_to_mysql_spark.operators import multimodal

    docs = T(spark, sf_dir, "documents")
    return multimodal.decode_audio_assets(
        multimodal.attach_audio_payload(docs)
    )


@register(
    "minhash_lsh_candidates",
    oracle=f"""
WITH base AS ({_INJECT_SQL}),
 t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM base),
 s AS (SELECT doc_id,
              CASE WHEN len(toks) >= 3 THEN
                list_distinct(list_transform(range(0, len(toks) - 2),
                  i -> array_to_string(toks[i+1:i+3], ' ')))
              ELSE [] END AS shset
       FROM t),
 m AS (SELECT doc_id, md5(unnest(shset)) AS m FROM s),
 sig AS (SELECT doc_id,
                min(substring(m, 1, 4)) AS mh0, min(substring(m, 5, 4)) AS mh1,
                min(substring(m, 9, 4)) AS mh2, min(substring(m, 13, 4)) AS mh3,
                min(substring(m, 17, 4)) AS mh4, min(substring(m, 21, 4)) AS mh5,
                min(substring(m, 25, 4)) AS mh6, min(substring(m, 29, 4)) AS mh7
         FROM m GROUP BY doc_id),
 bands AS (
   SELECT doc_id, 0 AS b, mh0 || '|' || mh1 AS band_key FROM sig
   UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
   UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig
   UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(DISTINCT a.b) AS BIGINT) AS n_bands
FROM bands a
JOIN bands b ON a.b = b.b AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (8 hashes) + LSH (4 bands x 2 rows) candidate pairs.
    Signatures are partially aggregated map-side and persisted; within
    the broadcast bound the buckets and pairs are built on the driver
    (a local relation), above it by bucket-grouped pair unfolding
    (single chain, no self-join — see operators/dedup.lsh_candidates).

    spread=True kept here ONLY: the r4→r5 bench A/B showed minhash is the
    one catalog query whose CPU-bound shingle+hash map stage wins from the
    extra scan exchange (~-0.4s cold at sf0.1); every other plan lost
    0.1-0.7s to it (see sources/parquet.table docstring)."""
    base = _inject_dups_spark(T(spark, sf_dir, "documents", spread=True))
    return dedup.lsh_candidates(base, k=3, n_hashes=8, band_size=2)


_INC_SIG_COLS = ", ".join(
    f"min(substring(m, {4 * h + 1}, 4)) AS mh{h}" for h in range(8)
)
_INC_BANDS = "\n   UNION ALL ".join(
    f"SELECT doc_id, side, {b} AS b, mh{2 * b} || '|' || mh{2 * b + 1} "
    f"AS band_key FROM sig"
    for b in range(4)
)


@register(
    "incremental_dedup_lsh",
    oracle=f"""
WITH inc AS (SELECT doc_id + 1000000 AS doc_id,
                    text || ' qz17 qz18 qz19' AS text
             FROM documents WHERE doc_id % 25 = 0),
 t AS (SELECT doc_id, {_TOKS_SQL} AS toks, 1 AS side FROM inc
       UNION ALL
       SELECT doc_id, {_TOKS_SQL} AS toks, 0 AS side FROM documents),
 s AS (SELECT doc_id, side,
              CASE WHEN len(toks) >= 3 THEN
                list_distinct(list_transform(range(0, len(toks) - 2),
                  i -> array_to_string(toks[i+1:i+3], ' ')))
              ELSE [] END AS shset
       FROM t),
 m AS (SELECT doc_id, side, md5(unnest(shset)) AS m FROM s),
 sig AS (SELECT doc_id, side, {_INC_SIG_COLS} FROM m GROUP BY 1, 2),
 bands AS (
   {_INC_BANDS}),
 cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
          FROM bands n JOIN bands o ON n.b = o.b
                                   AND n.band_key = o.band_key
          WHERE n.side = 1 AND o.side = 0),
 sc AS (SELECT c.new_id, c.old_id,
               CAST(len(list_intersect(a.shset, b.shset)) AS BIGINT)
                 AS inter,
               CAST(len(a.shset) + len(b.shset) AS BIGINT) AS sum_n
        FROM cand c
        JOIN s a ON a.side = 1 AND a.doc_id = c.new_id
        JOIN s b ON b.side = 0 AND b.doc_id = c.old_id),
 j AS (SELECT new_id, old_id, inter, sum_n - inter AS un FROM sc
       WHERE inter * 2 >= sum_n - inter),
 r AS (SELECT new_id, old_id,
              CAST(inter * 1000000 // un AS BIGINT) AS jac_ppm,
              row_number() OVER (PARTITION BY new_id
                                 ORDER BY inter * 1000000 // un DESC,
                                          old_id) AS rnk
       FROM j)
SELECT new_id AS doc_id, old_id AS dup_of, jac_ppm FROM r WHERE rnk = 1
""",
)
def incremental_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (asymmetric) near-dedup — dedup an INCOMING batch
    against the already-INDEXED corpus, the daily-ingest decision every
    training-data pipeline makes before appending new crawl data. The
    incoming batch is a deterministic 4% resample of the corpus with a
    3-token suffix (so matches are NEAR-duplicates, jac < 1, not byte
    copies). Candidates come from an asymmetric band-key equi-join of
    the incoming side's MinHash bands against the corpus band table
    (operators/dedup.incremental_lsh_dedup — nothing all-pairs), exact
    Jaccard verifies only LSH survivors via per-pair array intersection,
    and jaccard is reported as floor-ppm BIGINT so ranking and the 0.5
    threshold are exact integer math on both engines."""
    docs = T(spark, sf_dir, "documents")
    incoming = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qz17 qz18 qz19")).alias("text"),
    )
    return dedup.incremental_lsh_dedup(incoming, docs)


@register(
    "repetition_signals",
    oracle="""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
           FROM documents),
 tok AS (SELECT doc_id, unnest(toks) AS g FROM t),
 tc AS (SELECT doc_id, g, count(*) AS c FROM tok GROUP BY 1, 2),
 ts AS (SELECT doc_id, max(c) AS max_tok, CAST(sum(c) AS BIGINT) AS n_toks
        FROM tc GROUP BY 1),
 bgl AS (SELECT doc_id, CASE WHEN len(toks) >= 2 THEN
           list_transform(range(0, len(toks) - 1),
                          i -> array_to_string(toks[i+1:i+2], ' '))
         ELSE [] END AS bgs FROM t),
 bg AS (SELECT doc_id, unnest(bgs) AS bg FROM bgl),
 bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
 bs AS (SELECT doc_id, max(c) AS max_bg, sum(c) AS n_bg,
               count(*) AS n_distinct_bg
        FROM bc GROUP BY 1),
 j AS (SELECT ts.doc_id, ts.n_toks,
              CAST(ts.max_tok AS DOUBLE) / ts.n_toks AS top_tok_frac,
              coalesce(CAST(bs.max_bg AS DOUBLE) / bs.n_bg, 0.0)
                AS top_bigram_frac,
              coalesce(1.0 - CAST(bs.n_distinct_bg AS DOUBLE) / bs.n_bg, 0.0)
                AS dup_bigram_frac
       FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id)
SELECT doc_id, n_toks, top_tok_frac, top_bigram_frac, dup_bigram_frac,
       CASE WHEN top_bigram_frac > 0.18 OR dup_bigram_frac > 0.30
            THEN 'repetitive' ELSE 'ok' END AS rep_flag
FROM j
""",
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (top-token fraction, top /
    duplicate 2-gram fractions) as two map-side-partial two-level
    aggregations joined on doc_id — the scale-out shape of "mode per
    document" (operators/textops.py:repetition_signals)."""
    return textops.repetition_signals(T(spark, sf_dir, "documents"))


_DIRTY_SQL = """
  SELECT doc_id,
         text || ' reach user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or '
              || CAST(100 + doc_id % 900 AS VARCHAR) || '-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
              || CAST((doc_id * 7) % 256 AS VARCHAR) AS text
  FROM documents
"""


def _dirty_docs_spark(d: DataFrame) -> DataFrame:
    """Deterministic PII-bearing corpus: one email, phone, and IPv4 per doc,
    derived from doc_id (the testdata corpus itself is PII-free, so the
    scrubber needs synthetic targets; same construction as _DIRTY_SQL)."""
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat_ws(
            "",
            F.col("text"),
            F.lit(" reach user"),
            did.cast("string"),
            F.lit("@mail.example.com or "),
            (F.lit(100) + did % 900).cast("string"),
            F.lit("-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            (did % 256).cast("string"),
            F.lit(".0."),
            ((did * 7) % 256).cast("string"),
        ).alias("text"),
    )


@register(
    "pii_redaction",
    oracle=f"""
WITH dirty AS ({_DIRTY_SQL})
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '{textfns.PII_PATTERNS["email"][0]}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text,
            '{textfns.PII_PATTERNS["phone"][0]}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text,
            '{textfns.PII_PATTERNS["ipv4"][0]}')) AS BIGINT) AS n_ips,
       regexp_replace(regexp_replace(regexp_replace(text,
            '{textfns.PII_PATTERNS["email"][0]}', '<EMAIL>', 'g'),
            '{textfns.PII_PATTERNS["ipv4"][0]}', '<IP>', 'g'),
            '{textfns.PII_PATTERNS["phone"][0]}', '<PHONE>', 'g') AS redacted
FROM dirty
""",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass — the compliance step every training-data
    pipeline runs before anything else: count and redact emails, phone
    numbers, and IPv4 addresses with typed placeholders. Pure
    regexp_replace/extract_all column chain (whole-stage codegen, no UDF,
    no shuffle); patterns restricted to the Java-regex/RE2 shared subset
    (functions/text.py)."""
    dirty = _dirty_docs_spark(T(spark, sf_dir, "documents"))
    t = F.col("text")
    return dirty.select(
        "doc_id",
        textfns.pii_count(t, "email").alias("n_emails"),
        textfns.pii_count(t, "phone").alias("n_phones"),
        textfns.pii_count(t, "ipv4").alias("n_ips"),
        textfns.pii_redact(t).alias("redacted"),
    )


@register(
    "bpe_token_count",
    oracle="""
SELECT event_id,
       CAST(len(regexp_extract_all(lower(props),
            '[a-z]+|[0-9]{1,3}|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(lower(props), '[a-z]+')) AS BIGINT)
         AS n_alpha_runs,
       CAST(len(regexp_extract_all(lower(props), '[0-9]{1,3}')) AS BIGINT)
         AS n_digit_chunks,
       CAST(len(regexp_extract_all(lower(props), '[^a-z0-9 ]')) AS BIGINT)
         AS n_punct
FROM events
""",
)
def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style regex token counting (GPT-2-tokenizer-shaped rules:
    letter runs | <=3-digit chunks | punctuation) over the JSON props
    strings — the realistic "how many tokens will this cost" pre-pass of
    an LLM data pipeline. Pure regexp_extract_all column expressions,
    zero shuffle. Run against events.props because it is the corpus with
    mixed alpha/digit/punct content; documents.text is whitespace-clean
    prose where BPE == whitespace counting."""
    e = T(spark, sf_dir, "events")
    low = F.lower("props")

    def n(pat: str):
        return F.size(F.regexp_extract_all(low, F.lit(pat), 0)).cast("bigint")

    return e.select(
        "event_id",
        n("[a-z]+|[0-9]{1,3}|[^a-z0-9 ]").alias("n_bpe_tokens"),
        n("[a-z]+").alias("n_alpha_runs"),
        n("[0-9]{1,3}").alias("n_digit_chunks"),
        n("[^a-z0-9 ]").alias("n_punct"),
    )


@register(
    "winnowing_fingerprints",
    oracle="""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
           FROM documents),
 g AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
         list_transform(range(0, len(toks) - 2),
           i -> CAST('0x' || substring(md5(array_to_string(toks[i+1:i+3], ' ')),
                                       1, 12) AS BIGINT))
       ELSE [] END AS h FROM t),
 w AS (SELECT doc_id, CASE WHEN len(h) >= 4 THEN
         list_distinct(list_transform(range(0, len(h) - 3),
                                      j -> list_min(h[j+1:j+4])))
       ELSE list_distinct(h) END AS fps FROM g)
SELECT doc_id, unnest(fps) AS fp FROM w
""",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting by winnowing (the MOSS
    algorithm, Schleimer et al. 2003): hash every word 3-gram (48-bit
    md5 slice), slide a window of 4 consecutive hashes, keep each
    window's minimum, dedupe. Guarantees every match of >= 6 consecutive
    words shares a fingerprint, with ~1/4 the storage of full shingling.
    All per-row higher-order functions (transform/slice/array_min) —
    zero shuffle until the final explode, and the fingerprint table is
    the compact join key for plagiarism/overlap detection at corpus
    scale."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    grams = toks.select(
        "doc_id",
        F.expr(
            "CASE WHEN size(toks) >= 3 THEN "
            "transform(sequence(0, size(toks) - 3), i -> "
            " CAST(conv(substring(md5(concat_ws(' ', slice(toks, i + 1, 3))),"
            "           1, 12), 16, 10) AS BIGINT))"
            " ELSE CAST(array() AS ARRAY<BIGINT>) END"
        ).alias("h"),
    )
    fps = grams.select(
        "doc_id",
        F.expr(
            "CASE WHEN size(h) >= 4 THEN "
            "array_distinct(transform(sequence(0, size(h) - 4), j -> "
            " array_min(slice(h, j + 1, 4))))"
            " ELSE array_distinct(h) END"
        ).alias("fps"),
    )
    return fps.select("doc_id", F.explode("fps").alias("fp"))


def _doc_signal_suite_oracle() -> str:
    """Compose the suite oracle from the component oracles verbatim (each
    as a derived table), so the suite verifies the identical algorithms."""
    from migrate_cassandra_to_mysql_spark.plans.registry import CATALOG

    q = CATALOG["quality_score"].oracle
    r = CATALOG["repetition_signals"].oracle
    l = CATALOG["lang_id_heuristic"].oracle
    c = CATALOG["charngram_lang_id"].oracle
    s = CATALOG["simhash_signatures"].oracle
    p = CATALOG["pii_redaction"].oracle
    return f"""
SELECT q.doc_id, q.n_tokens, q.stop_hits, q.stop_ratio, q.ttr, q.quality_band,
       r.top_tok_frac, r.top_bigram_frac, r.dup_bigram_frac, r.rep_flag,
       l.lang_truth, l.en_hits, l.de_hits, l.fr_hits, l.es_hits,
       l.pred_lang AS sw_pred_lang,
       c.pred_lang AS cng_pred_lang, c.n_hits AS cng_n_hits,
       s.simhash,
       p.n_emails, p.n_phones, p.n_ips, p.redacted
FROM ({q}) q
JOIN ({r}) r ON q.doc_id = r.doc_id
JOIN ({l}) l ON q.doc_id = l.doc_id
JOIN ({c}) c ON q.doc_id = c.doc_id
JOIN ({s}) s ON q.doc_id = s.doc_id
JOIN ({p}) p ON q.doc_id = p.doc_id
"""


@register("doc_signal_suite", oracle=_doc_signal_suite_oracle())
def doc_signal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per document carrying EVERY per-doc text-pipeline signal —
    quality banding, Gopher repetition filters, both language-ID variants
    (stopword-hit and trained char-ngram), the 32-bit SimHash signature,
    and PII counts/redaction — produced by joining the six component
    operators on doc_id. This is the realistic corpus-annotation shape (a
    training-data pipeline computes all signals in one pass and writes one
    wide row per doc), and it gives each component operator a
    driver-verified correctness row through a single catalog slot. At
    scale the join keys are all doc_id, so with co-partitioned inputs
    these are one shuffle each; the component plans themselves stay
    map-side/partial-agg (see each operator's docstring)."""
    q = quality_score(spark, sf_dir)
    r = repetition_signals(spark, sf_dir).drop("n_toks")
    l = lang_id_heuristic(spark, sf_dir).withColumnRenamed(
        "pred_lang", "sw_pred_lang"
    )
    c = (
        charngram_lang_id(spark, sf_dir)
        .drop("lang_truth")
        .withColumnRenamed("pred_lang", "cng_pred_lang")
        .withColumnRenamed("n_hits", "cng_n_hits")
    )
    s = simhash_signatures(spark, sf_dir)
    p = pii_redaction(spark, sf_dir)
    return (
        q.join(r, "doc_id")
        .join(l, "doc_id")
        .join(c, "doc_id")
        .join(s, "doc_id")
        .join(p, "doc_id")
    )


def _dedup_clusters_oracle() -> str:
    """Recursive-CTE twin of min-label propagation: a node's component is
    the minimum doc_id that reaches it over the symmetric candidate graph
    (the LSH candidate oracle verbatim supplies the edges)."""
    from migrate_cassandra_to_mysql_spark.plans.registry import CATALOG

    lsh = CATALOG["minhash_lsh_candidates"].oracle
    return f"""
WITH RECURSIVE
 cand AS ({lsh}),
 edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
           UNION SELECT doc_b, doc_a FROM cand),
 reach(id, lbl) AS (
   SELECT s, s FROM edges
   UNION
   SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
 ),
 comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
 base AS ({_INJECT_SQL})
SELECT b.doc_id,
       CAST(coalesce(c.component, b.doc_id) AS BIGINT) AS component,
       coalesce(c.component, b.doc_id) = b.doc_id AS is_survivor
FROM base b LEFT JOIN comp c ON b.doc_id = c.id
"""


@register("dedup_clusters", oracle=_dedup_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair->cluster resolution for corpus dedup: MinHash+LSH candidate
    pairs (the same plan minhash_lsh_candidates verifies) become duplicate
    CLUSTERS via connected components (operators/components.py: BFS on
    the driver for a candidate graph within the broadcast threshold,
    min-label propagation above it), with the minimum doc_id as each
    cluster's deterministic survivor. This is the step the pairwise dedup operators
    stop short of — transitive groups (A~B, B~C => {A,B,C} share one
    survivor) — and the last piece of an end-to-end near-dedup pass:
    candidates -> clusters -> keep is_survivor."""
    base = _inject_dups_spark(T(spark, sf_dir, "documents"))
    pairs = dedup.lsh_candidates(base, k=3, n_hashes=8, band_size=2)
    return components.dedup_clusters(base, pairs)


def _dedup_canonical_keep_oracle() -> str:
    """The dedup_clusters component resolution verbatim, then the
    quality-aware canonical pick as one window (first_value over the
    full cluster frame, highest measured length first, clone ids after
    originals)."""
    from migrate_cassandra_to_mysql_spark.plans.registry import CATALOG

    lsh = CATALOG["minhash_lsh_candidates"].oracle
    canon = (
        "first_value(doc_id) OVER (PARTITION BY component "
        "ORDER BY n_chars_m DESC, doc_id ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    )
    return f"""
WITH RECURSIVE
 cand AS ({lsh}),
 edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
           UNION SELECT doc_b, doc_a FROM cand),
 reach(id, lbl) AS (
   SELECT s, s FROM edges
   UNION
   SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
 ),
 comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
 base AS ({_INJECT_SQL}),
 cl AS (SELECT b.doc_id,
               CAST(coalesce(c.component, b.doc_id) AS BIGINT) AS component,
               CAST(length(b.text) AS BIGINT) AS n_chars_m
        FROM base b LEFT JOIN comp c ON b.doc_id = c.id)
SELECT doc_id, component, n_chars_m,
       {canon} AS canonical_id,
       doc_id = {canon} AS keep
FROM cl
"""


@register("dedup_canonical_keep", oracle=_dedup_canonical_keep_oracle())
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation DECISION a dedup pass feeds the training mix: resolve
    MinHash+LSH candidate pairs into duplicate clusters (the identical
    construction dedup_clusters verifies), then within each cluster keep
    the single best copy by measured length (ties to the lowest doc_id,
    so an injected clone never beats its original) and emit per-doc
    keep/drop rows with the chosen canonical. Extends dedup_clusters'
    arbitrary min-id survivor to the quality-aware pick production
    pipelines actually apply before dropping near-dups
    (operators/components.canonical_keep).

    Scale shape: everything up to clusters is the pinned LSH chain
    (band buckets, nothing all-pairs); the pick adds ONE id equi-join
    (quality attaches) and ONE component-keyed window exchange with
    first_value over bounded near-dup clusters — no second join back,
    no re-shuffle of the corpus."""
    base = _inject_dups_spark(T(spark, sf_dir, "documents"))
    pairs = dedup.lsh_candidates(base, k=3, n_hashes=8, band_size=2)
    clusters = components.dedup_clusters(base, pairs)
    quality = base.select(
        "doc_id", F.length("text").cast("long").alias("n_chars_m")
    )
    return components.canonical_keep(
        clusters,
        quality,
        quality_order=[F.desc("n_chars_m"), F.asc("doc_id")],
    )


@register(
    "contamination_check",
    oracle=f"""
WITH base AS ({_INJECT_SQL}),
 t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM base),
 s AS (SELECT doc_id,
              CASE WHEN len(toks) >= 3 THEN
                list_distinct(list_transform(range(0, len(toks) - 2),
                  i -> array_to_string(toks[i+1:i+3], ' ')))
              ELSE [] END AS shset
       FROM t),
 exd AS (SELECT doc_id, unnest(shset) AS shingle FROM s),
 bench AS (SELECT DISTINCT shingle FROM exd WHERE doc_id % 97 = 0),
 train AS (SELECT doc_id, shingle FROM exd WHERE doc_id % 97 <> 0),
 hits AS (SELECT t.doc_id,
                 CAST(count(*) AS BIGINT) AS n_grams,
                 CAST(count(b.shingle) AS BIGINT) AS n_hits
          FROM train t LEFT JOIN bench b ON t.shingle = b.shingle
          GROUP BY 1)
SELECT doc_id, n_grams, n_hits,
       CAST(n_hits AS DOUBLE) / n_grams AS overlap_frac,
       n_hits >= 8 AND CAST(n_hits AS DOUBLE) / n_grams >= 0.5
         AS contaminated
FROM hits
""",
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: flag training documents whose
    3-gram shingle sets overlap a held-out benchmark set (docs with
    doc_id % 97 == 0 stand in for the eval suite; in production this is
    the actual benchmark corpus). Per train doc: distinct-shingle count,
    hits against the benchmark shingle universe, overlap fraction, and a
    contaminated flag (>= 8 hits AND >= 50% overlap — the n-gram-overlap
    decontamination rule used by large-LM training pipelines).

    Scale shape: the benchmark side is eval-suite-sized (thousands of
    docs), so its distinct-shingle set broadcast-joins against the train
    index — the 100-TB train side never shuffles for the probe; the only
    wide aggregation is the per-doc hit count, which is partial-agg
    friendly. The injected duplicates (doc_id % 50 clones) guarantee
    nonzero contamination on the synthetic corpus: clones of benchmark
    docs land in train with ~full overlap."""
    base = _inject_dups_spark(T(spark, sf_dir, "documents"))
    ex = dedup.exploded_shingles(base, "text", 3).drop("n_sh")
    bench = (
        ex.where(F.col("doc_id") % 97 == 0).select("shingle").distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = ex.where(F.col("doc_id") % 97 != 0)
    hits = (
        train.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_hits"),
        )
    )
    return hits.select(
        "doc_id",
        "n_grams",
        "n_hits",
        (F.col("n_hits") / F.col("n_grams")).alias("overlap_frac"),
        (
            (F.col("n_hits") >= 8)
            & (F.col("n_hits") / F.col("n_grams") >= 0.5)
        ).alias("contaminated"),
    )


@register(
    "temperature_mix_sample",
    oracle="""
WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
           FROM documents GROUP BY 1),
 m AS (SELECT min(n_lang) AS min_n FROM c),
 p AS (SELECT lang, n_lang,
              CAST(floor(round(pow(CAST(n_lang AS DOUBLE) / min_n, -0.7), 6)
                         * 65536) AS BIGINT) AS thr
       FROM c, m)
SELECT d.doc_id, d.lang, p.n_lang, p.thr
FROM documents d JOIN p ON d.lang = p.lang
WHERE (('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT)
      < p.thr
""",
)
def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted language rebalancing (the multilingual-corpus
    mixing rule: sampling probability proportional to n_lang^(alpha-1),
    alpha=0.3): the rarest language keeps everything, a language k times
    larger keeps ~k^-0.7 of its docs — flattening the head without
    touching the tail. Selection is a deterministic md5 bucket per doc_id
    against a per-language threshold, so the SAME docs are kept on every
    engine, rerun, retry, and scale — a Bernoulli sample would be
    unverifiable and non-idempotent. The threshold is quantized (round to
    6 decimals, then floor to a 16-bit bucket) so double-precision pow()
    differences between engines cannot flip a boundary doc.

    Scale shape: language stats are a tiny partial-agg (|langs| rows),
    thresholds broadcast; the corpus side is a map-only filter — zero
    corpus shuffles, filter evaluable at the scan."""
    d = T(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    m = c.agg(F.min("n_lang").alias("min_n"))
    p = c.crossJoin(F.broadcast(m)).select(
        "lang",
        "n_lang",
        F.floor(
            F.round(
                F.pow(F.col("n_lang").cast("double") / F.col("min_n"), -0.7),
                6,
            )
            * 65536
        )
        .cast("long")
        .alias("thr"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    return (
        d.join(F.broadcast(p), "lang")
        .where(bucket < F.col("thr"))
        .select("doc_id", "lang", "n_lang", "thr")
    )


_PLAIN_BASE_SQL = "SELECT doc_id, text FROM documents"


def _corpus_curation_oracle() -> str:
    """Assembled from the component oracles with the duplicate-injection
    base swapped for the plain corpus (string-level substitution of the
    shared _INJECT_SQL fragment keeps the algorithms verbatim)."""
    from migrate_cassandra_to_mysql_spark.plans.registry import CATALOG

    q = CATALOG["quality_score"].oracle
    clusters = CATALOG["dedup_clusters"].oracle.replace(
        _INJECT_SQL, _PLAIN_BASE_SQL
    )
    contam = CATALOG["contamination_check"].oracle.replace(
        _INJECT_SQL, _PLAIN_BASE_SQL
    )
    mix = CATALOG["temperature_mix_sample"].oracle
    return f"""
SELECT d.doc_id, d.lang,
       q.quality_band,
       c.is_survivor,
       (d.doc_id % 97 = 0) AS is_benchmark,
       coalesce(t.contaminated, FALSE) AS contaminated,
       m.doc_id IS NOT NULL AS mix_kept,
       q.quality_band IN ('high', 'medium')
         AND c.is_survivor
         AND d.doc_id % 97 <> 0
         AND NOT coalesce(t.contaminated, FALSE)
         AND m.doc_id IS NOT NULL AS curated
FROM documents d
JOIN ({q}) q ON d.doc_id = q.doc_id
JOIN ({clusters}) c ON d.doc_id = c.doc_id
LEFT JOIN ({contam}) t ON d.doc_id = t.doc_id
LEFT JOIN ({mix}) m ON d.doc_id = m.doc_id
"""


@register("corpus_curation", oracle=_corpus_curation_oracle())
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus curation decision table — every
    pipeline family composed into one row per document:

      quality_score   -> quality_band   (keep high/medium)
      dedup_clusters  -> is_survivor    (MinHash-LSH candidates ->
                                         connected components -> min-id
                                         survivor)
      contamination   -> contaminated   (benchmark n-gram overlap;
                                         benchmark docs themselves are
                                         excluded from training)
      temperature mix -> mix_kept       (language rebalancing)
      curated = quality AND survivor AND NOT benchmark AND NOT
                contaminated AND mix_kept

    This is the query a 100-TB pretraining pipeline actually runs before
    writing shards: all signals joined on doc_id (co-partitioned
    shuffles), each component retaining its own scale shape (broadcast
    benchmark set / thresholds, bucketed LSH, driver-finished or
    label-propagation components).
    Returning the full decision table rather than the filtered corpus
    keeps every branch auditable — the production filter is
    `.where("curated")` on this frame."""
    d = T(spark, sf_dir, "documents")
    plain = d.select("doc_id", "text")
    q = textops.quality_score(d).select("doc_id", "quality_band")
    pairs = dedup.lsh_candidates(plain, k=3, n_hashes=8, band_size=2)
    clusters = components.dedup_clusters(plain, pairs).select(
        "doc_id", "is_survivor"
    )
    ex = dedup.exploded_shingles(plain, "text", 3).drop("n_sh")
    bench = (
        ex.where(F.col("doc_id") % 97 == 0).select("shingle").distinct()
        .withColumn("_hit", F.lit(1))
    )
    contam = (
        ex.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"), F.count("_hit").alias("n_hits"))
        .select(
            "doc_id",
            (
                (F.col("n_hits") >= 8)
                & (F.col("n_hits") / F.col("n_grams") >= 0.5)
            ).alias("contaminated"),
        )
    )
    mix = temperature_mix_sample(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("mix_kept")
    )
    out = (
        d.select("doc_id", "lang")
        .join(q, "doc_id")
        .join(clusters, "doc_id")
        .join(contam, "doc_id", "left")
        .join(mix, "doc_id", "left")
    )
    return out.select(
        "doc_id",
        "lang",
        "quality_band",
        "is_survivor",
        (F.col("doc_id") % 97 == 0).alias("is_benchmark"),
        F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        F.col("mix_kept").isNotNull().alias("mix_kept"),
        (
            F.col("quality_band").isin("high", "medium")
            & F.col("is_survivor")
            & (F.col("doc_id") % 97 != 0)
            & ~F.coalesce("contaminated", F.lit(False))
            & F.col("mix_kept").isNotNull()
        ).alias("curated"),
    )


@register(
    "doc_chunking",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
 s AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks), {_CHUNK_S}))
         AS start FROM t)
SELECT doc_id,
       CAST((start - 1) / {_CHUNK_S} AS BIGINT) AS chunk_idx,
       CAST(start AS BIGINT) AS start_tok,
       CAST(len(list_slice(toks, start, start + {_CHUNK_W} - 1)) AS BIGINT)
         AS n_chunk_tokens,
       array_to_string(list_slice(toks, start, start + {_CHUNK_W} - 1), ' ')
         AS chunk_text
FROM s
""",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    token windows of {W} tokens at stride {S} — the standard prep step
    for embedding / pretraining pipelines whose models take fixed-size
    inputs. Pure per-row higher-order functions (split -> sequence ->
    slice -> array_join): ZERO shuffles, whole-stage-codegen'd, scales
    embarrassingly — each 128 MB parquet split chunks independently, and
    output rows inherit the input's partitioning (downstream per-chunk
    ops need no exchange). Starts are 1-based and the tail chunk is kept
    short rather than dropped (no token of a document is lost; Spark
    slice and DuckDB list_slice both clamp at the array end)."""
    d = T(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    d = d.select("doc_id", toks.alias("toks"))
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(_CHUNK_S))
    s = d.select(
        "doc_id", "toks", F.explode(starts).alias("start")
    )
    chunk = F.slice("toks", F.col("start"), _CHUNK_W)
    return s.select(
        "doc_id",
        ((F.col("start") - 1) / _CHUNK_S).cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


_PACK_BUDGET = 256  # tokens per packed training sequence
_PACK_SHARDS = 32


@register(
    "sequence_packing",
    oracle=f"""
WITH t AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         len({_TOKS_SQL}) AS n_tokens
  FROM documents),
 c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_off,
       CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS seq_no,
       (cum - n_tokens) // {_PACK_BUDGET} <> (cum - 1) // {_PACK_BUDGET}
         AS straddles
FROM c
""",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy concat-and-split sequence packing: documents are laid out
    back-to-back in doc_id order and cut every {BUDGET} tokens into
    training sequences — the packing used by GPT-style pretraining
    loaders (each doc gets its sequence number, its offset inside the
    stream, and whether it straddles a cut point and so will be split
    across two training sequences).

    Scale shape: packing is a running sum, which is inherently
    sequential — a GLOBAL cumsum would funnel 100 TB through one
    reducer. Training does not need one global stream, only locally
    dense sequences, so the stream is sharded (doc_id % {N}): each shard
    packs independently under a window partitioned by shard — 32-way (or
    10k-way) parallel, one shuffle by shard key, no global sort. The
    same trick is how the reference scatters token ranges across
    workers (SURVEY S2/D1); here the 'ring' is the doc_id space."""
    d = T(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    t = d.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        n_tokens.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return c.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        start.cast("long").alias("start_off"),
        F.floor(start / _PACK_BUDGET).cast("long").alias("seq_no"),
        (
            F.floor(start / _PACK_BUDGET)
            != F.floor((F.col("cum") - 1) / _PACK_BUDGET)
        ).alias("straddles"),
    )


def _chunk_pack_suite_oracle() -> str:
    """Compose the chunking + packing oracles verbatim (suite pattern:
    one driver slot verifies both component algorithms end-to-end)."""
    from migrate_cassandra_to_mysql_spark.plans.registry import CATALOG

    ch = CATALOG["doc_chunking"].oracle
    pk = CATALOG["sequence_packing"].oracle
    return f"""
WITH ch AS ({ch}),
 pk AS ({pk}),
 c2 AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(sum(n_chunk_tokens) AS BIGINT) AS sum_chunk_tokens,
         CAST(max(n_chunk_tokens) AS BIGINT) AS max_chunk_tokens
  FROM ch GROUP BY 1)
SELECT p.doc_id, p.shard, p.n_tokens, p.start_off, p.seq_no, p.straddles,
       c.n_chunks, c.sum_chunk_tokens, c.max_chunk_tokens
FROM pk p JOIN c2 c ON p.doc_id = c.doc_id
"""


@register("chunk_pack_suite", oracle=_chunk_pack_suite_oracle())
def chunk_pack_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per document carrying BOTH training-data layout signals —
    its sequence-packing placement (shard, stream offset, sequence
    number, boundary-straddle flag) and its context-window chunking
    profile (chunk count, token coverage) — by joining the two component
    operators on doc_id. Suite pattern (cf. doc_signal_suite): a single
    driver-verified slot differentially checks both component plans; the
    components themselves stay registered for direct use. The join key
    is doc_id on both sides, so co-partitioned inputs make it one
    shuffle each at scale."""
    ch = (
        doc_chunking(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("n_chunk_tokens").cast("long").alias("sum_chunk_tokens"),
            F.max("n_chunk_tokens").cast("long").alias("max_chunk_tokens"),
        )
    )
    return sequence_packing(spark, sf_dir).join(ch, "doc_id")


@register(
    "dataset_split_assignment",
    oracle="""
WITH b AS (
  SELECT doc_id, lang,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
              AS BIGINT) % 100 AS bucket
  FROM documents)
SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket,
       CASE WHEN bucket < 96 THEN 'train'
            WHEN bucket < 98 THEN 'val'
            ELSE 'test' END AS split
FROM b
""",
)
def dataset_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable train/val/test split assignment (96/2/2) by hashing the
    document KEY, not by rand(): the split is a pure function of doc_id,
    so it is reproducible across runs/engines, survives re-partitioning
    and incremental corpus growth (new docs never move old docs between
    splits — the property rand()-based splits lack), and needs zero
    shuffle (map-only, codegen'd md5). Hash-of-key is also how the
    reference buckets rows into token ranges (SURVEY S3); here the same
    primitive drives leakage-safe dataset partitioning."""
    d = T(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    return d.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(F.col("bucket") < 96, "train")
        .when(F.col("bucket") < 98, "val")
        .otherwise("test")
        .alias("split"),
    )



@register(
    "dup_ngram_spans",
    oracle=f"""
WITH base AS ({_INJECT_SQL}),
 t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM base),
 g AS (SELECT doc_id,
              unnest(CASE WHEN len(toks) >= 5
                          THEN range(0, len(toks) - 4) ELSE [] END) AS pos,
              unnest(CASE WHEN len(toks) >= 5 THEN
                list_transform(range(0, len(toks) - 4),
                  i -> md5(array_to_string(toks[i+1:i+5], ' ')))
              ELSE [] END) AS gh
       FROM t),
 f AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
 hits AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (gh)),
 lagged AS (SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER
                          (PARTITION BY doc_id ORDER BY pos) <= 5
                        THEN 0 ELSE 1 END AS new_run
            FROM hits),
 isl AS (SELECT doc_id, pos,
                sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS grp
         FROM lagged)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 5 AS BIGINT) AS span_end,
       CAST(max(pos) + 5 - min(pos) AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_grams
FROM isl
GROUP BY doc_id, grp
""",
)
def dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication map (new r9): maximal per-document
    token spans whose 5-grams all recur in >= 2 distinct documents —
    the EXACTSUBSTR cut list of Lee et al. 2022, which document-level
    Jaccard/MinHash dedup cannot produce for partially-copied
    boilerplate. Runs over the same injected-duplicates base as the
    Jaccard rows so the span signal is guaranteed at every SF.
    Scale shape: md5-digest gram keys (16 bytes on the wire, never
    text), one partial-agg count-distinct for corpus-frequent grams, a
    LEFT SEMI membership join (hot boilerplate grams are single build
    keys, no pair blowup), then gaps-and-islands span merging whose
    doc_id window exchange Catalyst reuses for the final groupBy
    (operators/dedup.dup_ngram_spans)."""
    base = _inject_dups_spark(T(spark, sf_dir, "documents", spread=True))
    return dedup.dup_ngram_spans(base, k=5, min_docs=2)


# Positional phrase / proximity retrieval: the fixed two-term phrase and
# the proximity window. Distances are position differences, so the
# 0-based (Spark posexplode) vs 1-based (DuckDB generate_subscripts)
# origin cancels; every metric is an exact BIGINT.
_PHRASE_A = "table"
_PHRASE_B = "scan"
_PROX_WINDOW = 3


def _phrase_oracle() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
 p AS (SELECT doc_id, unnest(toks) AS tok,
              generate_subscripts(toks, 1) AS pos FROM t),
 pf AS (SELECT doc_id, tok, pos FROM p
        WHERE tok IN ('{_PHRASE_A}', '{_PHRASE_B}')),
 pr AS (SELECT a.doc_id, b.pos - a.pos AS d
        FROM pf a JOIN pf b
          ON a.doc_id = b.doc_id
         AND a.tok = '{_PHRASE_A}' AND b.tok = '{_PHRASE_B}'
         AND b.pos - a.pos BETWEEN 1 AND {_PROX_WINDOW})
SELECT doc_id,
       CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_phrase,
       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
       CAST(3 * sum(CASE WHEN d = 1 THEN 1 ELSE 0 END)
            + sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS prox_score
FROM pr GROUP BY doc_id
ORDER BY prox_score DESC, doc_id LIMIT 20
"""


@register("phrase_proximity_topk", oracle=_phrase_oracle())
def phrase_proximity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase + proximity retrieval — the operator class bag-
    of-words BM25 cannot express: rank documents for the fixed query
    phrase "table scan" by exact-phrase occurrences (adjacent
    positions) and near-miss proximity pairs (the first term followed
    by the second within 3 tokens), score = 3*n_phrase + n_near,
    top-20. This is the
    positional-index member of the retrieval family (Lucene phrase/
    sloppy-phrase queries, Indri #1/#uwN operators): the posting
    payload gains token POSITIONS and matching becomes position
    arithmetic instead of set membership.

    Scale shape: posexplode produces the positional postings, and the
    scan-side filter keeps ONLY the two phrase terms' rows before
    anything shuffles (posting lists for 2 terms, KB-sized at any
    corpus — the same prune-before-join discipline as the df clamp);
    the filtered frame is eagerly checkpointed (referenced by both
    phrase sides — one documents scan total) and the position match is
    one doc-keyed equi-join with a bounded range predicate (per-doc
    occurrence counts are tf-bounded, so the fan-out is quadratic only
    in a single doc's tf of the two terms, never in the corpus). Exact
    integer counts; TakeOrdered-20 with a total (score, doc_id)
    order."""
    t = T(spark, sf_dir, "documents").select(
        "doc_id", textfns.tokens(F.col("text")).alias("toks")
    )
    p = t.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    pf = p.where(
        F.col("tok").isin(_PHRASE_A, _PHRASE_B)
    ).localCheckpoint(eager=True)
    a = pf.where(F.col("tok") == _PHRASE_A).select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = pf.where(F.col("tok") == _PHRASE_B).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    pr = a.join(
        b,
        (F.col("doc_id") == F.col("doc_b"))
        & (F.col("pb") - F.col("pa") >= 1)
        & (F.col("pb") - F.col("pa") <= _PROX_WINDOW),
    ).select("doc_id", (F.col("pb") - F.col("pa")).alias("d"))
    return (
        pr.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_phrase"),
            F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_near"),
        )
        .select(
            "doc_id",
            "n_phrase",
            "n_near",
            (F.lit(3) * F.col("n_phrase") + F.col("n_near"))
            .cast("long")
            .alias("prox_score"),
        )
        .orderBy(F.desc("prox_score"), F.asc("doc_id"))
        .limit(20)
    )


def _dedup_recall_oracle() -> str:
    """Ground truth and prediction are the two verified oracles
    VERBATIM (the dedup_clusters composition discipline) — exact
    3-gram Jaccard >= 0.5 pairs as truth, the MinHash 4x2-band
    candidates as the prediction — with ONE documented substitution:
    both run over the near-threshold BAND corpus
    (_INJECT_BAND_SQL, r13 VERDICT ask #6) instead of the plain
    injection, so the metrics discriminate banding changes instead of
    saturating on exact copies."""
    from migrate_cassandra_to_mysql_spark.plans.registry import CATALOG

    truth = CATALOG["ngram_jaccard_dedup"].oracle.replace(
        _INJECT_SQL, _INJECT_BAND_SQL
    )
    cand = CATALOG["minhash_lsh_candidates"].oracle.replace(
        _INJECT_SQL, _INJECT_BAND_SQL
    )
    return f"""
WITH truth AS ({truth}),
 cand AS ({cand}),
 nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
 nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
 h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
       FROM cand c JOIN truth t
         ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
SELECT nt.n_truth, nc.n_candidates, h.n_hits,
       CASE WHEN nt.n_truth > 0
            THEN (h.n_hits * 1000000) // nt.n_truth ELSE 0 END
         AS recall_ppm,
       CASE WHEN nc.n_candidates > 0
            THEN (h.n_hits * 1000000) // nc.n_candidates ELSE 0 END
         AS precision_ppm
FROM nt, nc, h
"""


@register("dedup_recall_eval", oracle=_dedup_recall_oracle())
def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation quality eval for the near-dup family — the
    dedup twin of ann_recall_eval: exact 3-gram Jaccard >= 0.5 pairs
    (the ngram_jaccard_dedup contract) are ground truth, the MinHash
    8-hash / 4x2-band LSH pairs (the minhash_lsh_candidates contract)
    are the prediction, and the row reports truth/candidate/hit counts
    with recall and precision in exact ppm. This is the measurement a
    curation pipeline tunes its banding against (bands x rows sets the
    S-curve; the eval row turns that theory into a committed number on
    the engine's own corpus).

    Scale shape: both branches are the already-verified single-chain
    pipelines (posting-join truth, band-bucket candidates) over ONE
    shared injected-base projection; each collapses to a pair list
    before the eval join, both pair frames are eagerly checkpointed
    (each is referenced by its count aggregate AND the hit join), and
    the three 1-row counts cross-join to the single output row. The
    truth branch is the expensive one at scale by construction — the
    eval is meant for a bounded audit corpus (here: the df-bounded
    injected base the oracles already pin), not the full 100 TB.

    Fixture (r13 VERDICT ask #6): the corpus is the near-threshold
    BAND injection (_inject_band_dups_spark) — exact copies (always
    caught) plus prefix-copies whose Jaccard straddles the 0.5 truth
    threshold, where the 4x2 LSH S-curve sits at ~68% — so recall is
    structurally < 100% and MOVES when bands x rows change
    (tests/test_r14_ops.py pins recall < 1.0 and both sides of the
    band).

    Determinism: counts are exact BIGINTs off the two verified
    contracts; ppm metrics are positive-integer floor division."""
    base = _inject_band_dups_spark(
        T(spark, sf_dir, "documents")
    ).localCheckpoint(eager=True)
    truth = (
        dedup.jaccard_pairs(base, k=3, threshold=0.5)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    cand = (
        dedup.lsh_candidates(base, k=3, n_hashes=8, band_size=2)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    nh = cand.join(truth, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    return (
        nt.crossJoin(nc)
        .crossJoin(nh)
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            F.expr(
                "CASE WHEN n_truth > 0 THEN"
                " (n_hits * 1000000) div n_truth ELSE 0 END"
            ).alias("recall_ppm"),
            F.expr(
                "CASE WHEN n_candidates > 0 THEN"
                " (n_hits * 1000000) div n_candidates ELSE 0 END"
            ).alias("precision_ppm"),
        )
    )
