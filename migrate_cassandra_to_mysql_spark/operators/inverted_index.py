"""Persisted inverted index + BM25 search over it — the production
retrieval serving layout for a 100 TB corpus.

The inline `bm25_topk_search` (plans/textplans.py) scans the whole corpus
per query; that is the right shape for a handful of ad-hoc slicing queries
but not for a query-serving workload. The index inverts the corpus ONCE
into token-bucketed posting lists, after which a keyword query touches
only the few bucket partitions its terms hash to:

  postings/bucket=N/ingest_batch=B/  (tok, doc_id, tf, dl) — doc length
                       denormalized into every posting so scoring needs
                       NO doclens join
  doclens/ingest_batch=B/  (doc_id, dl) for EVERY doc — incl. NULL/empty-
                       text docs that produce no postings; the n_docs source
  lexicon/bucket=N/    (tok, df)              — per-term document frequency
  stats/               1 row (n_docs, sum_dl) — corpus-level BM25 constants

The ingest_batch level is UNIFORM across every writer — batch build and
incremental append use ingest_batch=0, streaming ingestion
(streaming/index_ingest.py) writes batch B under ingest_batch=B+1 — so
batch-built and streamed files never sit at different directory depths
(Spark partition discovery rejects mixed-depth leaves as 'conflicting
directory structures'). Readers select named columns, so the extra
partition column is invisible to queries; compact_postings folds the
accumulated ingest_batch partitions back to a single ingest_batch=0.

Buckets use the oracle-portable md5 bucket (functions/hashing.
md5_token_bucket) so a Python-side literal term maps to its partition
without touching the JVM; at 100 TB you would raise n_buckets to a few
thousand so each partition stays file-sized, and the same pruning math
holds. Query-time plan: the bucket set becomes parquet PartitionFilters
(unprobed buckets' files never open), the term set is a pushed data
filter inside each bucket, the query-term lexicon slice broadcast-joins
onto the postings, and the only data shuffle is the per-doc conditional
pivot — bounded by documents that contain at least one query term, not by
corpus size.

The reference (quyetmv/migrate-cassandra-to-mysql) has no retrieval
surface; this extends the engine's LLM-data-pipeline family (targeted
corpus slicing / eval-set retrieval) alongside the persisted IVFADC
vector index (operators/ivf_index.py), with the same contract: the served
path must equal the inline oracle-checked path row for row.
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions import text as textfns
from migrate_cassandra_to_mysql_spark.functions.hashing import md5_token_bucket
from migrate_cassandra_to_mysql_spark.operators import tombstones

DEFAULT_BUCKETS = 32

# The index's replaceable data layers, in the order maintenance touches
# them; the set a cross-layer snapshot manifest must pin together.
LAYERS = ("postings", "doclens", "lexicon", "stats")

# Their schemas, partition columns last (the order Spark lists them in).
# Every read passes its layer's schema: inferring it from parquet footers
# costs a Spark job per read (tests/test_index_schemas.py pins these
# against what build, append, ingest, compaction and merge write).
SCHEMAS = {
    "postings": "doc_id bigint, dl bigint, tok string, tf bigint,"
    " bucket int, ingest_batch int",
    "doclens": "doc_id bigint, dl bigint, ingest_batch int",
    "lexicon": "tok string, df bigint, bucket int",
    "stats": "n_docs bigint, sum_dl bigint",
}


def term_bucket(term: str, n_buckets: int = DEFAULT_BUCKETS) -> int:
    """Python twin of md5_token_bucket for literal query terms: first 4
    hex chars of md5, mod n_buckets. Must stay bit-identical to the Spark
    expression or query-time pruning would skip the term's partition."""
    return int(hashlib.md5(term.encode()).hexdigest()[:4], 16) % n_buckets


def _tokenized(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, dl, toks) — the one tokenization pass every inversion
    derives from. dl matches the inline bm25_topk_search semantics
    exactly: NULL text → dl 0 (split(NULL) is NULL, coalesce to 0),
    empty text → dl 1 (split('') yields [''])."""
    return docs.select(
        "doc_id", textfns.tokens(F.col(text_col)).alias("toks")
    ).select(
        "doc_id",
        F.coalesce(F.size("toks").cast("long"), F.lit(0)).alias("dl"),
        F.col("toks"),
    )


def _postings_from_tokenized(
    toks: DataFrame, n_buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    return (
        toks.select("doc_id", "dl", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn(
            "bucket", md5_token_bucket(F.col("tok"), n_buckets).cast("int")
        )
    )


def encode_postings(
    docs: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) frames for a document batch — the shared
    inversion step behind build, incremental append, and streaming
    ingest, so all three produce bit-identical rows for the same docs.
    doclens carries EVERY document (see _tokenized for the NULL/empty
    dl semantics)."""
    toks = _tokenized(docs, text_col)
    return _postings_from_tokenized(toks, n_buckets), toks.select(
        "doc_id", "dl"
    )


def build_inverted_index(
    docs: DataFrame,
    index_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    text_col: str = "text",
) -> None:
    """Invert the corpus into the on-disk layout above. One corpus-scan
    job (tokenize → explode → partial-agg tf) plus a doclens pass over
    the same tokenized frame, then lexicon and stats are cheap
    aggregations over the already-persisted layers.

    Both data layers are written to `.new` and promoted through
    layout.swap_live_dir, so the live names are VERSIONED SYMLINKS from
    the very first build — a later compact_postings flips the pointer
    instead of renaming a real dir out from under an in-flight reader
    (the mid-execution FILE_NOT_EXIST the sf1 serving soak caught).

    The doclens job deliberately RE-TOKENIZES rather than reading a
    persisted tokenized frame (r15 negative result, guide §1.1):
    caching (doc_id, dl, toks) across the two layer writes was A/B'd
    and LOST — whitespace split is a cheap map (0.4s/corpus-pass at
    sf0.1) while materializing token arrays into the columnar block
    cache cost more than every re-tokenize it saved (sharded-merge
    build 4.1s rebuilt-per-shard vs 15.6s encode-once-persisted; the
    same row-block-materialization wall the r14 PPR probe hit)."""
    from migrate_cassandra_to_mysql_spark.operators.layout import (
        run_concurrently,
        swap_live_dir,
    )

    toks = _tokenized(docs, text_col)
    # The two layer writes are independent sinks over independent
    # staging dirs — submit them concurrently so the small doclens job
    # back-fills executors the postings job's tail frees (guide §2.6).
    # BOTH swaps still happen only after BOTH writes committed.
    run_concurrently(
        docs.sparkSession,
        lambda: _postings_from_tokenized(toks, n_buckets)
        .withColumn("ingest_batch", F.lit(0))
        .write.mode("overwrite")
        .partitionBy("bucket", "ingest_batch")
        .parquet(f"{index_dir}/postings.new"),
        lambda: toks.select("doc_id", "dl")
        .withColumn("ingest_batch", F.lit(0))
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(f"{index_dir}/doclens.new"),
    )
    for part in ("postings", "doclens"):
        swap_live_dir(index_dir, part)
    # lexicon (per-term df) derives from postings; stats (n_docs/sum_dl)
    # from doclens — so build and incremental append share one refresh
    # path and NULL/empty-text docs still count toward n_docs.
    _refresh_derived(docs.sparkSession, index_dir)


def append_to_inverted_index(
    docs_new: DataFrame,
    index_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    text_col: str = "text",
) -> None:
    """Incremental index maintenance — the daily-ingest path: invert ONLY
    the new documents and append their postings to the existing bucket
    partitions (no touch of existing posting files), then rebuild lexicon
    and stats from the postings layer. A posting row is a pure function of
    its document, so an index built in N appends holds the same posting
    multiset as a single-pass build (pinned by test); lexicon/stats are
    aggregations over the already-inverted postings — their refresh cost
    is O(index), not O(corpus), and at 100 TB both are a tiny fraction of
    the posting volume (vocabulary-sized and 1 row). Callers must ensure
    doc_ids in docs_new are not already indexed (same contract as any
    append-only ingest).

    Appends write INTO the current live version dir (layout.ensure_live_dir
    resolves the versioned symlink; a legacy real-dir store is adopted as
    v1 on first touch): files only ever APPEAR under a live version, so a
    concurrent reader that pinned the resolved version keeps a stable file
    listing for its whole query."""
    from migrate_cassandra_to_mysql_spark.operators.layout import (
        ensure_live_dir,
        run_concurrently,
    )

    spark = docs_new.sparkSession
    # Re-adding a TOMBSTONED doc_id (takedown reversal / corrected
    # re-crawl) must supersede the deletion — but simply clearing the
    # tombstone would resurrect the OLD physical rows beside the new
    # copy (df/n_docs would double-count). Run the owed physical purge
    # FIRST (the compaction that was scheduled to collect these
    # tombstones anyway — O(index) rewrite, paid only when a re-add
    # actually hits, which resets the layer), then append cleanly.
    if tombstones.hits(spark, index_dir, docs_new, "doc_id"):
        compact_postings(spark, index_dir)
    # Two tokenize passes, deliberately unpersisted — see
    # build_inverted_index (the cache A/B loss) — submitted together, as
    # the build submits its two layer writes.
    toks = _tokenized(docs_new, text_col)
    postings_dir = ensure_live_dir(index_dir, "postings")
    doclens_dir = ensure_live_dir(index_dir, "doclens")
    run_concurrently(
        spark,
        lambda: _postings_from_tokenized(toks, n_buckets)
        .withColumn("ingest_batch", F.lit(0))
        .write.mode("append")
        .partitionBy("bucket", "ingest_batch")
        .parquet(postings_dir),
        lambda: toks.select("doc_id", "dl")
        .withColumn("ingest_batch", F.lit(0))
        .write.mode("append")
        .partitionBy("ingest_batch")
        .parquet(doclens_dir),
    )
    _refresh_derived(spark, index_dir)


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> None:
    """Delete documents from the persisted index — the right-to-be-
    forgotten / takedown path a long-lived training-data index needs.
    Tombstone design (the Iceberg/Delta equality-delete shape, rebuilt
    on open parquet): the doc_ids append to a tiny versioned tombstone
    layer (operators/tombstones); serving anti-joins it broadcast-side;
    the derived layers (df / n_docs / sum_dl) are refreshed EXCLUDING
    tombstoned docs immediately, so served scores equal an index rebuilt
    without them (pinned by test); the next compact_postings physically
    purges the posting/doclens rows and resets the tombstone layer. Cost now:
    O(tombstones) + the derived refresh — never a corpus rewrite; the
    physical rewrite rides the compaction that was due anyway.

    Maintenance op: same single-maintainer / quiescent-ingest contract
    as _refresh_derived. `doc_ids` is a DataFrame with a doc_id column
    or a Python iterable of ids. A LATER batch append of a tombstoned
    doc_id supersedes the deletion: append_to_inverted_index runs the
    owed physical purge first (compact_postings) so the re-added copy
    is the only one — streaming ingest instead rejects re-adds loudly
    with that same recipe (stream_docs_into_inverted_index).

    The derived refresh runs under the deleters' lock and its manifest
    commit flips the tombstones, lexicon and stats TOGETHER, so no
    reader anti-joins the new set while scoring with tombstone-inclusive
    df/n_docs/sum_dl (atomicity and concurrency: operators/tombstones)."""
    tombstones.add(
        spark, index_dir, doc_ids, "doc_id",
        lambda: _refresh_derived(spark, index_dir),
    )


def _refresh_derived(spark: SparkSession, index_dir: str) -> None:
    """Rebuild lexicon/ (from postings/) and stats/ (from doclens/, so
    NULL/empty-text docs count toward n_docs/sum_dl exactly like the
    inline path's count(*)). Each is written to a temp name and promoted
    by layout.swap_live_dir — an ATOMIC versioned-pointer flip (the live
    name is a symlink; the previous version is retained for one cycle),
    so a concurrent bm25_search never sees a missing path and an
    in-flight query keeps its already-resolved version (the
    read_parquet_retry + realpath discipline on the serving side).

    After BOTH swaps, ONE cross-layer snapshot manifest is committed
    (layout.commit_live_snapshot): each flip is atomic per layer, but a
    reader landing between the lexicon and stats swaps would otherwise
    pair a new lexicon with old stats — bm25_search resolves all its
    layers from one manifest read, so it sees the whole refresh or none
    of it."""
    from migrate_cassandra_to_mysql_spark.operators.layout import (
        read_parquet_retry,
        run_concurrently,
        swap_live_dir,
    )

    # Tombstoned docs are excluded from the derived layers the moment
    # the deletion's refresh runs — df/n_docs/sum_dl then match an index
    # rebuilt without those docs, even though their posting rows remain
    # physically present until the next compaction purges them.
    purge = tombstones.purge(spark, index_dir, "doc_id")
    written, doclens = (
        purge(read_parquet_retry(spark, f"{index_dir}/{p}", SCHEMAS[p]))
        for p in ("postings", "doclens")
    )
    # The two derived writes read DIFFERENT source layers into DIFFERENT
    # staging dirs — concurrent submission (guide §2.6), swaps + the one
    # manifest commit strictly after both complete, so the cross-layer
    # atomicity contract is untouched.
    run_concurrently(
        spark,
        lambda: written.groupBy("bucket", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/lexicon.new"),
        lambda: doclens.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{index_dir}/stats.new"),
    )
    for part in ("lexicon", "stats"):
        swap_live_dir(index_dir, part)
    tombstones.commit(index_dir, LAYERS)


def compact_postings(
    spark: SparkSession,
    index_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Maintenance pass after N incremental appends and/or streamed
    batches: every postings/bucket=N's accumulated ingest_batch=*
    partitions merge back into a bin-packed bucket=N/ingest_batch=0
    (append adds a file per batch per bucket and streaming adds a
    partition per micro-batch; query cost then grows with file count,
    not posting volume). Per-partition coalesce — zero shuffle, bucket
    pruning untouched — then rename-swap into place. Content is
    identical by construction, so lexicon/ and stats/ need no refresh;
    the append+compact == single-pass-build equivalence is pinned at the
    QUERY level in tests/test_inverted_index.py. Quiescent-ingest
    contract for streamed indexes: run while no drain is in flight.
    Returns the compaction stats dict for the caller's audit log:
    top-level files_in/files_out/bytes/partitions cover the postings
    layer; the doclens rewrite's own counts ride under "doclens".

    The doclens layer (one row per document — billions of rows at the
    100 TB design point) bin-packs by listed bytes exactly like the
    partitioned layers do: forcing it into one file would serialize a
    multi-GB write through a single task."""
    import glob as _glob
    import os as _os

    from migrate_cassandra_to_mysql_spark.operators.layout import (
        compact_partitioned,
        read_parquet_retry,
        swap_live_dir,
    )

    # the tombstone purge rides the rewrite compaction does anyway; the
    # emptied tombstone layer joins the same manifest commit
    with tombstones.compaction(spark, index_dir, "doc_id") as purge:
        stats = compact_partitioned(
            spark,
            f"{index_dir}/postings",
            f"{index_dir}/postings.new",
            target_file_bytes=target_file_bytes,
            sort_within_by=["tok", "doc_id"],
            merge_sub_partitions_into="ingest_batch=0",
            transform=purge,
            schema=SCHEMAS["postings"],
        )
        swap_live_dir(index_dir, "postings")
        dl_files = [
            p
            for p in _glob.glob(f"{index_dir}/doclens/ingest_batch=*/part-*")
            if _os.path.isfile(p)
        ]
        dl_bytes = sum(_os.path.getsize(p) for p in dl_files)
        dl_out_dir = f"{index_dir}/doclens.new/ingest_batch=0"
        dl = purge(
            read_parquet_retry(
                spark, f"{index_dir}/doclens", SCHEMAS["doclens"]
            ).drop("ingest_batch")
        )
        (
            dl.coalesce(max(1, -(-dl_bytes // target_file_bytes)))
            .write.mode("overwrite")
            .parquet(dl_out_dir)
        )
        stats["doclens"] = {
            "files_in": len(dl_files),
            "files_out": len(
                [
                    p
                    for p in _glob.glob(f"{dl_out_dir}/part-*")
                    if _os.path.isfile(p)
                ]
            ),
            "bytes": dl_bytes,
        }
        swap_live_dir(index_dir, "doclens")
    # One manifest commit AFTER all swaps: readers flip from the old
    # consistent set to the new one atomically (content-identical for
    # the data layers unless a purge ran; the uniform commit point keeps
    # the reader contract simple either way).
    tombstones.commit(index_dir, LAYERS)
    return stats


def merge_indexes(
    spark: SparkSession,
    src_dirs: Sequence[str],
    dst_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Consolidate N inverted-index SHARDS into one index at dst_dir —
    the standard 100 TB maintenance workflow (per-day / per-source /
    per-tenant shards built independently, merged for serving). The
    merge moves POSTINGS, never documents: no re-tokenization, no
    corpus scan — each merged bucket is a union of the shards' same
    bucket (the md5 term hash is shard-independent, so bucket=N rows
    from every shard belong together), bin-packed per bucket with a
    coalesce of input splits — ZERO shuffle, like compact_partitioned.
    Derived lexicon/stats rebuild once over the merged layers (df is
    NOT summable from shard lexicons once tombstones purge rows, and
    the refresh is O(index), vocabulary-sized output). Each shard's
    own tombstones are purged during the rewrite (the merge performs
    the owed compaction), so the merged index equals
    build_inverted_index over the union of the shards' LIVE corpora —
    pinned at the query level in tests and by the sharded-merge
    catalog row's plain-BM25 oracle.

    Loud rejections (both checks are vocabulary/doc-count sized, a
    rounding error next to the posting move):
    - a token living in DIFFERENT buckets across shards (shards built
      with different n_buckets — merged probes would miss rows);
    - a doc_id present in more than one shard after purges (shards
      must partition the corpus; a doc indexed twice would
      double-count df/tf).

    Operational contract: shards quiescent during the merge (same as
    compaction); dst_dir is a fresh index directory."""
    from migrate_cassandra_to_mysql_spark.operators.layout import (
        merge_sharded_layer,
        read_parquet_retry,
        run_concurrently,
        swap_live_dir,
    )

    src_dirs = list(src_dirs)
    if not src_dirs:
        raise ValueError("merge_indexes needs at least one source index")
    layers = [tombstones.resolve(d, LAYERS) for d in src_dirs]
    purges = [tombstones.mask(spark, lay, "doc_id") for lay in layers]

    # 1) bucket-hash compatibility: every shard must map each token to
    # the SAME bucket (vocabulary-sized check over the lexicons).
    lex_all = None
    for lay in layers:
        one = read_parquet_retry(
            spark, lay["lexicon"], SCHEMAS["lexicon"]
        ).select("bucket", "tok")
        lex_all = one if lex_all is None else lex_all.unionByName(one)

    # 2) corpus disjointness (after each shard's own tombstone purge).
    dl_frames = [
        purge(
            read_parquet_retry(spark, lay["doclens"], SCHEMAS["doclens"])
        ).select("doc_id")
        for purge, lay in zip(purges, layers)
    ]
    dl_all = dl_frames[0]
    for f in dl_frames[1:]:
        dl_all = dl_all.unionByName(f)

    # The two integrity probes read different layers and are
    # independent — submit both collects concurrently (guide §2.6) and
    # evaluate the results in the documented order so error precedence
    # is unchanged.
    split_toks, dups = run_concurrently(
        spark,
        lambda: lex_all.distinct()
        .groupBy("tok")
        .agg(F.countDistinct("bucket").alias("nb"))
        .where(F.col("nb") > 1)
        .limit(5)
        .collect(),
        lambda: dl_all.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .limit(5)
        .collect(),
    )
    if split_toks:
        raise ValueError(
            "shards hash the same token to different buckets (e.g. "
            f"{sorted(r['tok'] for r in split_toks)}) — they were built "
            "with different n_buckets. Rebuild the divergent shard(s) "
            "with a uniform bucket count before merging."
        )
    if dups:
        raise ValueError(
            "doc_id(s) present in more than one shard (e.g. "
            f"{sorted(int(r['doc_id']) for r in dups)}) — shards must "
            "partition the corpus; merging would double-count their "
            "df/tf. Deduplicate (delete_docs the copies you don't "
            "want) and re-run."
        )

    # 3) posting + doclens moves: the generic zero-shuffle shard move
    # (layout.merge_sharded_layer): per-bucket union purged per shard,
    # bin-packed by listed bytes; doclens is the flat form (one row per
    # doc — billions at the design point; never force a single file).
    moved = merge_sharded_layer(
        spark,
        [lay["postings"] for lay in layers],
        f"{dst_dir}/postings.new",
        purges,
        sort_within_by=("tok", "doc_id"),
        target_file_bytes=target_file_bytes,
        schema=SCHEMAS["postings"],
    )
    agg = {
        "files_in": moved["files_in"],
        "files_out": moved["files_out"],
        "bytes": moved["bytes"],
        "buckets": moved["partitions"],
    }
    merge_sharded_layer(
        spark,
        [lay["doclens"] for lay in layers],
        f"{dst_dir}/doclens.new",
        purges,
        partitioned=False,
        target_file_bytes=target_file_bytes,
        schema=SCHEMAS["doclens"],
    )
    for part in ("postings", "doclens"):
        swap_live_dir(dst_dir, part)
    # lexicon/stats rebuild over the merged layers + ONE manifest commit
    # (the same refresh path build/append use).
    _refresh_derived(spark, dst_dir)
    return agg


def bm25_search(
    spark: SparkSession,
    index_dir: str,
    terms: Sequence[str],
    k: int = 20,
    score_sql: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 over the persisted index. `score_sql` is the scoring
    expression over columns tf{i}/df{i}/dl/n_docs/sum_dl (defaults to the
    catalog's shared BM25 spec so served results are bit-identical to the
    inline oracle-checked path).

    `allowed` (a doc_id frame) is the FILTERED-retrieval path: only
    candidates in the set are scored/ranked, while df/n_docs/sum_dl stay
    CORPUS-GLOBAL — the production semantics of a serving-time metadata
    filter (restrict results, don't re-derive IDF per filter; contrast
    delete_docs, whose tombstones DO refresh the stats because deletion
    means "as if rebuilt without them"). The set left-semi-joins onto the
    postings BEFORE the pivot groupBy, so the plan's sole data shuffle is
    sized by matching∩allowed docs and Catalyst broadcasts it while it
    fits (flipping to a shuffled semi-join when a 100 TB filter set
    outgrows that — correct either way).

    Plan: probe-bucket PartitionFilters + term-IN pushed filter on the
    postings scan; vocabulary never loads beyond the probed buckets'
    query-term rows; lexicon slice broadcasts; the per-doc pivot groupBy
    (the sole data shuffle) is sized by matching docs; TakeOrdered ends
    the plan.

    Reads resolve ALL layers from ONE cross-layer snapshot manifest
    (layout.resolve_live_snapshot — committed by maintenance after all
    its layer swaps), so a query can never pair a new lexicon with old
    stats however unluckily it lands inside a refresh; pre-manifest
    stores fall back to per-layer live-symlink pinning. Each resolved
    path then retries through the rename-swap window
    (layout.read_parquet_retry) with its declared schema, so planning
    runs no Spark job: the first job is the caller's action."""
    from migrate_cassandra_to_mysql_spark.operators.layout import (
        read_parquet_retry,
    )

    terms = list(terms)
    if score_sql is None:
        from migrate_cassandra_to_mysql_spark.plans.textplans import (
            _bm25_score_sql,
        )

        score_sql = _bm25_score_sql(len(terms))
    buckets = sorted({term_bucket(t, n_buckets) for t in terms})
    layer = tombstones.resolve(index_dir, LAYERS)
    # tombstoned docs are invisible to serving the moment the delete
    # commits; the physical purge rides the next compaction
    postings = (
        read_parquet_retry(spark, layer["postings"], SCHEMAS["postings"])
        .where(F.col("bucket").isin(buckets))
        .where(F.col("tok").isin(terms))
        .select("doc_id", "dl", "tok", "tf")
    )
    postings = tombstones.mask(spark, layer, "doc_id")(postings)
    if allowed is not None:
        postings = postings.join(
            F.broadcast(allowed.select("doc_id")), "doc_id", "left_semi"
        )
    lexicon = (
        read_parquet_retry(spark, layer["lexicon"], SCHEMAS["lexicon"])
        .where(F.col("bucket").isin(buckets))
        .where(F.col("tok").isin(terms))
        .select("tok", "df")
    )
    stats = read_parquet_retry(spark, layer["stats"], SCHEMAS["stats"])
    pivoted = (
        postings.join(F.broadcast(lexicon), "tok")
        .groupBy("doc_id")
        .agg(
            F.max("dl").alias("dl"),
            *[
                F.coalesce(
                    F.max(F.when(F.col("tok") == t, F.col("tf"))), F.lit(0)
                )
                .cast("long")
                .alias(f"tf{i}")
                for i, t in enumerate(terms)
            ],
            # df placeholder 1 for terms absent from this doc: their
            # contribution is multiplied by tf=0, so the idf value is
            # irrelevant — it only needs to be non-null and finite.
            *[
                F.coalesce(
                    F.max(F.when(F.col("tok") == t, F.col("df"))), F.lit(1)
                )
                .cast("long")
                .alias(f"df{i}")
                for i, t in enumerate(terms)
            ],
        )
    )
    hits = " + ".join(f"tf{i}" for i in range(len(terms)))
    return (
        pivoted.join(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(f"CAST({hits} AS BIGINT)").alias("n_hits"),
            F.expr(score_sql).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )
