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
  postings/bucket=-1/ingest_batch=0/  the SEGMENT: the postings of every
                       append since the last compaction, unbucketed, one
                       file per append task, sorted by (tok, doc_id)
  doclens/ingest_batch=B/  (doc_id, dl) for EVERY doc — incl. NULL/empty-
                       text docs that produce no postings; the n_docs source
  stats/               1 row (n_docs, sum_dl) — corpus-level BM25 constants
  _layout.json         {"n_buckets": N} — the bucket count, chosen once

No layer stores df: a query reads every posting of its terms anyway and
counts df over them, so an append touches only its own documents and df
cannot drift from the postings.

The segment is the small-write half of a log-structured layout: a batch
append writes ONE file set (not one file per bucket it touches — 32 files
for an 8-document batch at 32 buckets, thousands at the design point),
every query reads the segment beside its probed buckets (a token sits in
both the segment and its hash bucket until compaction), and
compact_postings folds the segment rows into their hash buckets, so no
segment survives a compaction. Build, streaming ingest and shard merges
of segment-free shards write hash buckets only.

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
holds. The count is a property of the index: build_inverted_index
chooses it and records it in `_layout.json`, and every later writer
and reader hashes with the recorded count (bucket_count), so no two
calls can disagree on it.

Query-time plan: the read lists only the probed bucket dirs and the
segment (layout.read_parquet_retry's `partitions`), so planning cost
is O(query terms), not O(n_buckets); the bucket set plus the segment's
-1 becomes parquet PartitionFilters, the term set is a pushed data
filter inside each bucket, the query terms' dfs are one row of counts over
those postings, broadcast onto the per-doc conditional pivot — the only
data shuffle, bounded by documents that contain at least one query term,
not by corpus size.

The reference (quyetmv/migrate-cassandra-to-mysql) has no retrieval
surface; this extends the engine's LLM-data-pipeline family (targeted
corpus slicing / eval-set retrieval) alongside the persisted IVFADC
vector index (operators/ivf_index.py), with the same contract: the served
path must equal the inline oracle-checked path row for row.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions import text as textfns
from migrate_cassandra_to_mysql_spark.functions.hashing import md5_token_bucket
from migrate_cassandra_to_mysql_spark.operators import tombstones

DEFAULT_BUCKETS = 32

# Beside the snapshot manifest: the index's bucket count, written once
# by the build (or a shard merge) and read by every other entry point.
_LAYOUT = "_layout.json"

# The bucket value of the append segment (unbucketed postings awaiting
# the compaction that folds them into their hash buckets).
SEGMENT_BUCKET = -1
SEGMENT = f"bucket={SEGMENT_BUCKET}"

# The index's replaceable data layers, in the order maintenance touches
# them; the set a cross-layer snapshot manifest must pin together.
LAYERS = ("postings", "doclens", "stats")

# Their schemas, partition columns last (the order Spark lists them in).
# Every read passes its layer's schema: inferring it from parquet footers
# costs a Spark job per read (tests/test_index_schemas.py pins these
# against what build, append, ingest, compaction and merge write).
SCHEMAS = {
    "postings": "doc_id bigint, dl bigint, tok string, tf bigint,"
    " bucket int, ingest_batch int",
    "doclens": "doc_id bigint, dl bigint, ingest_batch int",
    "stats": "n_docs bigint, sum_dl bigint",
}


def term_bucket(term: str, n_buckets: int = DEFAULT_BUCKETS) -> int:
    """Python twin of md5_token_bucket for literal query terms: first 4
    hex chars of md5, mod n_buckets. Must stay bit-identical to the Spark
    expression or query-time pruning would skip the term's partition."""
    return int(hashlib.md5(term.encode()).hexdigest()[:4], 16) % n_buckets


def bucket_count(index_dir: str) -> int:
    """The bucket count recorded for the index at index_dir — a
    driver-side file read, no Spark job. An index with no record (its
    first writer was a stream) hashes with DEFAULT_BUCKETS."""
    try:
        with open(os.path.join(index_dir, _LAYOUT)) as f:
            return int(json.load(f)["n_buckets"])
    except FileNotFoundError:
        return DEFAULT_BUCKETS


def _record_bucket_count(index_dir: str, n_buckets: int) -> None:
    """Write `_layout.json` atomically (temp file + os.replace, like the
    snapshot manifest)."""
    tmp = os.path.join(index_dir, _LAYOUT + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"n_buckets": n_buckets}, f)
    os.replace(tmp, os.path.join(index_dir, _LAYOUT))


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
    toks: DataFrame, n_buckets: int | None
) -> DataFrame:
    """(doc_id, dl, tok, tf), plus the tok's hash bucket unless
    n_buckets is None (the append segment is unbucketed)."""
    postings = (
        toks.select("doc_id", "dl", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    if n_buckets is None:
        return postings
    return postings.withColumn(
        "bucket", md5_token_bucket(F.col("tok"), n_buckets).cast("int")
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


def _doclens_write(toks, mode, doclens_dir):
    """The doclens write of one tokenized batch, as a thunk for
    layout.run_concurrently."""
    return (
        lambda: toks.select("doc_id", "dl")
        .withColumn("ingest_batch", F.lit(0))
        .write.mode(mode)
        .partitionBy("ingest_batch")
        .parquet(doclens_dir)
    )


def build_inverted_index(
    docs: DataFrame,
    index_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    text_col: str = "text",
) -> None:
    """Invert the corpus into the on-disk layout above. One corpus-scan
    job (tokenize → explode → partial-agg tf) plus a doclens pass over
    the same tokenized frame, then stats is a one-row aggregation over
    the persisted doclens. The one place the bucket count is chosen:
    `n_buckets` is recorded in `_layout.json`, and every later append,
    stream, compaction and search of the index reads it from there.

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
        _doclens_write(toks, "overwrite", f"{index_dir}/doclens.new"),
    )
    for part in ("postings", "doclens"):
        swap_live_dir(index_dir, part)
    _record_bucket_count(index_dir, n_buckets)
    _refresh_derived(docs.sparkSession, index_dir)


def append_to_inverted_index(
    docs_new: DataFrame,
    index_dir: str,
    text_col: str = "text",
) -> None:
    """Incremental index maintenance — the daily-ingest path, O(batch):
    invert ONLY the new documents, append their postings to the segment
    and their doclens to the doclens layer, and write the stats row as
    the manifest-resolved one plus the batch's (count, sum(dl)); no
    existing posting or doclens file is read. Postings are a pure
    function of their document, and old plus batch stats equal a
    recompute (appended ids are never tombstoned: a re-add purges first,
    below), so N appends serve exactly like one build (pinned by test).
    Callers must ensure doc_ids in docs_new are not already indexed
    (same contract as any append-only ingest).

    The batch's postings go to the segment, `bucket=-1/ingest_batch=0`
    of the live postings version: unbucketed, sorted by (tok, doc_id)
    within each write task, one file per task — no repartition, so a
    small batch (one task after AQE's shuffle coalescing) adds exactly
    one postings file however many buckets its tokens hash to.
    compact_postings later folds the segment into the hash buckets with
    the index's recorded bucket count, so the append never hashes.

    Appends write INTO the current live version dir (layout.ensure_live_dir
    resolves the versioned symlink; a legacy real-dir store is adopted as
    v1 on first touch): files only ever APPEAR under a live version, so a
    concurrent reader that pinned the resolved version keeps a stable file
    listing for its whole query. The stats row is swapped in and
    published by one manifest commit."""
    from migrate_cassandra_to_mysql_spark.operators.layout import (
        ensure_live_dir,
        read_parquet_retry,
        run_concurrently,
        swap_live_dir,
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
    postings = ensure_live_dir(index_dir, "postings")
    # Three tokenize passes, deliberately unpersisted — see
    # build_inverted_index (the cache A/B loss) — submitted together.
    toks = _tokenized(docs_new, text_col)
    stats = _stats(toks)
    old_dir = tombstones.resolve(index_dir, LAYERS)["stats"]
    if os.path.isdir(old_dir):  # else an index that never held a doc
        # two one-row inputs: one task sums them, with no exchange
        stats = (
            read_parquet_retry(spark, old_dir, SCHEMAS["stats"])
            .unionByName(stats)
            .coalesce(1)
            .agg(*(F.sum(c).cast("long").alias(c) for c in stats.columns))
        )
    run_concurrently(
        spark,
        lambda: _postings_from_tokenized(toks, None)
        .sortWithinPartitions("tok", "doc_id")
        .write.mode("append")
        .parquet(f"{postings}/{SEGMENT}/ingest_batch=0"),
        _doclens_write(toks, "append", ensure_live_dir(index_dir, "doclens")),
        lambda: _stage_stats(stats, index_dir),
    )
    swap_live_dir(index_dir, "stats")
    tombstones.commit(index_dir, LAYERS)


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> None:
    """Delete documents from the persisted index — the right-to-be-
    forgotten / takedown path a long-lived training-data index needs.
    Tombstone design (the Iceberg/Delta equality-delete shape, rebuilt
    on open parquet): the doc_ids append to a tiny versioned tombstone
    layer (operators/tombstones); serving anti-joins it broadcast-side;
    df (counted at query time over the masked postings) and the stats
    (n_docs / sum_dl, refreshed at once) EXCLUDE tombstoned docs, so
    served scores equal an index rebuilt without them (pinned by test);
    the next compact_postings physically purges the posting/doclens rows
    and resets the tombstone layer. Cost now: O(tombstones) + the stats
    refresh — never a corpus rewrite; the physical rewrite rides the
    compaction that was due anyway.

    Maintenance op: same single-maintainer / quiescent-ingest contract
    as _refresh_derived. `doc_ids` is a DataFrame with a doc_id column
    or a Python iterable of ids. A LATER batch append of a tombstoned
    doc_id supersedes the deletion: append_to_inverted_index runs the
    owed physical purge first (compact_postings) so the re-added copy
    is the only one — streaming ingest instead rejects re-adds loudly
    with that same recipe (stream_docs_into_inverted_index).

    The stats refresh runs under the deleters' lock and its manifest
    commit flips the tombstones and stats TOGETHER, so no reader
    anti-joins the new set while scoring with tombstone-inclusive
    n_docs/sum_dl (atomicity and concurrency: operators/tombstones).
    df needs no refresh: bm25_search counts it over the masked
    postings."""
    tombstones.add(
        spark, index_dir, doc_ids, "doc_id",
        lambda: _refresh_derived(spark, index_dir),
    )


def _stats(dl: DataFrame) -> DataFrame:
    """The one stats row over a frame with a `dl` column: count(*) and
    sum(dl), so NULL/empty-text docs count exactly like the inline
    path's."""
    return dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )


def _stage_stats(stats: DataFrame, index_dir: str) -> None:
    stats.coalesce(1).write.mode("overwrite").parquet(
        f"{index_dir}/stats.new"
    )


def _refresh_derived(spark: SparkSession, index_dir: str) -> None:
    """Recompute stats/ from the tombstone-purged doclens/ (deleted docs
    stop counting at once), promote it by layout.swap_live_dir — an
    ATOMIC versioned-pointer flip, so a concurrent bm25_search never sees
    a missing path and an in-flight query keeps its resolved version —
    then commit ONE cross-layer snapshot manifest: a delete flips its
    tombstone set and these stats together, and bm25_search resolves
    all its layers from one manifest read."""
    from migrate_cassandra_to_mysql_spark.operators.layout import (
        read_parquet_retry,
        swap_live_dir,
    )

    purge = tombstones.purge(spark, index_dir, "doc_id")
    doclens = purge(
        read_parquet_retry(spark, f"{index_dir}/doclens", SCHEMAS["doclens"])
    )
    _stage_stats(_stats(doclens), index_dir)
    swap_live_dir(index_dir, "stats")
    tombstones.commit(index_dir, LAYERS)


def compact_postings(
    spark: SparkSession,
    index_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Maintenance pass after N incremental appends and/or streamed
    batches: every postings/bucket=N's accumulated ingest_batch=*
    partitions merge back into a bin-packed bucket=N/ingest_batch=0
    (streaming adds a partition per micro-batch; query cost then grows
    with file count, not posting volume), and the append segment's rows
    fold into their hash buckets (hashed with the index's recorded
    bucket count) in the same rewrite, so no bucket=-1 survives a
    compaction.

    Both layers go through layout.merge_sharded_layer, the one
    layer-rewrite primitive: the postings rewrite merges the live
    version (its segment group excluded) with the segment re-bucketed
    into a staging dir beside it (`postings.fold`, removed afterwards),
    a per-bucket coalesce — zero shuffle, bucket pruning untouched —
    then rename-swap into place. The doclens layer (one row per
    document — billions of rows at the 100 TB design point) takes the
    flat form, bin-packed by listed bytes like the postings: forcing it
    into one file would serialize a multi-GB write through a single
    task. Content is identical by construction (tombstoned docs left
    stats when they were deleted), so stats/ needs no refresh; the
    append+compact == single-pass-build equivalence is pinned at the
    QUERY level in tests/test_inverted_index.py. An index built from
    zero documents compacts to empty layers. Quiescent-ingest contract
    for streamed indexes: run while no drain is in flight. Returns the
    compaction stats dict for the caller's audit log: top-level
    files_in/bytes count the live postings files read (the segment's
    included), files_out/partitions the buckets written; the doclens
    rewrite's own counts ride under "doclens"."""
    import glob
    import shutil

    from migrate_cassandra_to_mysql_spark.operators.layout import (
        merge_sharded_layer,
        read_parquet_retry,
        swap_live_dir,
    )

    live = os.path.realpath(f"{index_dir}/postings")
    fold = f"{index_dir}/postings.fold"
    # the tombstone purge rides the rewrite compaction does anyway; the
    # emptied tombstone layer joins the same manifest commit
    with tombstones.compaction(spark, index_dir, "doc_id") as purge:
        srcs, purges = [live], [purge]
        if os.path.isdir(f"{live}/{SEGMENT}"):
            # the segment re-bucketed and purged: a second shard
            purge(
                read_parquet_retry(
                    spark, live, SCHEMAS["postings"], partitions=[SEGMENT]
                )
            ).select(
                "doc_id",
                "dl",
                "tok",
                "tf",
                md5_token_bucket(F.col("tok"), bucket_count(index_dir))
                .cast("int")
                .alias("bucket"),
                F.lit(0).alias("ingest_batch"),
            ).write.mode("overwrite").partitionBy(
                "bucket", "ingest_batch"
            ).parquet(fold)
            srcs.append(fold)
            purges.append(lambda df: df)
        try:
            stats = merge_sharded_layer(
                spark,
                srcs,
                f"{index_dir}/postings.new",
                purges,
                exclude=(SEGMENT,),
                sort_within_by=("tok", "doc_id"),
                target_file_bytes=target_file_bytes,
                schema=SCHEMAS["postings"],
            )
        finally:
            shutil.rmtree(fold, ignore_errors=True)
        # the merge listed the re-bucketed staging files, not the
        # segment files they came from
        files_in = glob.glob(f"{live}/bucket=*/ingest_batch=*/part-*")
        stats["files_in"] = len(files_in)
        stats["bytes"] = sum(os.path.getsize(p) for p in files_in)
        swap_live_dir(index_dir, "postings")
        stats["doclens"] = merge_sharded_layer(
            spark,
            [os.path.realpath(f"{index_dir}/doclens")],
            f"{index_dir}/doclens.new",
            [purge],
            partitioned=False,
            target_file_bytes=target_file_bytes,
            schema=SCHEMAS["doclens"],
        )
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
    coalesce of input splits — ZERO shuffle, through the same
    layout.merge_sharded_layer move compact_postings makes.
    The shards' append segments merge the same way into the merged
    index's segment (bucket=-1), which serves as it did in the shards
    until the merged index's compact_postings folds it.
    Stats recompute once over the merged doclens. Each shard's
    own tombstones are purged during the rewrite (the merge performs
    the owed compaction), so the merged index equals
    build_inverted_index over the union of the shards' LIVE corpora —
    pinned at the query level in tests and by the sharded-merge
    catalog row's plain-BM25 oracle.

    Loud rejections, before any posting moves:
    - shards that record different bucket counts (they hash a token to
      different buckets — merged probes would miss rows): a driver-side
      comparison of their `_layout.json`, no Spark job;
    - a doc_id present in more than one shard after purges (shards
      must partition the corpus; a doc indexed twice would
      double-count df/tf): one doc-count-sized probe job.

    The merged index records the shards' bucket count. Operational
    contract: shards quiescent during the merge (same as compaction);
    dst_dir is a fresh index directory."""
    from migrate_cassandra_to_mysql_spark.operators.layout import (
        merge_sharded_layer,
        read_parquet_retry,
        swap_live_dir,
    )

    src_dirs = list(src_dirs)
    if not src_dirs:
        raise ValueError("merge_indexes needs at least one source index")
    counts = {d: bucket_count(d) for d in src_dirs}
    if len(set(counts.values())) > 1:
        raise ValueError(
            f"shards record different bucket counts ({counts}), so they "
            "hash the same token to different buckets. Rebuild the "
            "divergent shard(s) with a uniform bucket count before "
            "merging."
        )
    layers = [tombstones.resolve(d, LAYERS) for d in src_dirs]
    purges = [tombstones.mask(spark, lay, "doc_id") for lay in layers]

    # corpus disjointness (after each shard's own tombstone purge)
    dl_frames = [
        purge(
            read_parquet_retry(spark, lay["doclens"], SCHEMAS["doclens"])
        ).select("doc_id")
        for purge, lay in zip(purges, layers)
    ]
    dl_all = dl_frames[0]
    for f in dl_frames[1:]:
        dl_all = dl_all.unionByName(f)

    dups = (
        dl_all.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .limit(5)
        .collect()
    )
    if dups:
        raise ValueError(
            "doc_id(s) present in more than one shard (e.g. "
            f"{sorted(int(r['doc_id']) for r in dups)}) — shards must "
            "partition the corpus; merging would double-count their "
            "df/tf. Deduplicate (delete_docs the copies you don't "
            "want) and re-run."
        )

    # posting + doclens moves: the generic zero-shuffle shard move
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
    _record_bucket_count(dst_dir, counts[src_dirs[0]])
    # stats recompute over the merged doclens + ONE manifest commit
    # (the same refresh path build and delete use).
    _refresh_derived(spark, dst_dir)
    return agg


def bm25_search(
    spark: SparkSession,
    index_dir: str,
    terms: Sequence[str],
    k: int = 20,
    score_sql: str | None = None,
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

    Plan: the terms hash with the index's recorded bucket count
    (bucket_count), and the read lists only the probed bucket dirs and
    the append segment (bucket=-1) that exist, so planning lists
    O(terms) dirs however many buckets the index has; probe-bucket PartitionFilters +
    term-IN pushed filter on the postings scan; vocabulary never loads
    beyond the probed buckets' and the segment's query-term rows. The
    terms' dfs are one row of conditional counts over those masked
    postings, taken BEFORE the `allowed` semi-join (so they stay
    corpus-global) and broadcast onto the pivot; the counts
    aggregate partially per task (a Window by tok would pull a whole
    posting list into one task), and since the pivot does not wait for
    them, both aggregations run as concurrent stages. The per-doc pivot
    groupBy is sized by matching docs; TakeOrdered ends the plan.

    Reads resolve ALL layers from ONE cross-layer snapshot manifest
    (layout.resolve_live_snapshot — committed by maintenance after all
    its layer swaps), so a query can never pair new tombstones with old
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
    n_buckets = bucket_count(index_dir)
    # the terms' hash buckets plus the append segment, which may hold
    # any term
    buckets = [
        *sorted({term_bucket(t, n_buckets) for t in terms}),
        SEGMENT_BUCKET,
    ]
    layer = tombstones.resolve(index_dir, LAYERS)
    # tombstoned docs are invisible to serving the moment the delete
    # commits; the physical purge rides the next compaction
    postings = (
        read_parquet_retry(
            spark,
            layer["postings"],
            SCHEMAS["postings"],
            partitions=[f"bucket={b}" for b in buckets],
        )
        .where(F.col("bucket").isin(buckets))
        .where(F.col("tok").isin(terms))
        .select("doc_id", "dl", "tok", "tf")
    )
    postings = tombstones.mask(spark, layer, "doc_id")(postings)
    # df placeholder 1 for a term with no postings: its tf is 0 in every
    # doc, so the idf value only needs to be non-null and finite.
    dfs = postings.agg(
        *[
            F.greatest(F.count(F.when(F.col("tok") == t, 1)), F.lit(1))
            .alias(f"df{i}")
            for i, t in enumerate(terms)
        ]
    )
    if allowed is not None:
        postings = postings.join(
            F.broadcast(allowed.select("doc_id")), "doc_id", "left_semi"
        )
    stats = read_parquet_retry(spark, layer["stats"], SCHEMAS["stats"])
    pivoted = postings.groupBy("doc_id").agg(
        F.max("dl").alias("dl"),
        *[
            F.coalesce(
                F.max(F.when(F.col("tok") == t, F.col("tf"))), F.lit(0)
            )
            .cast("long")
            .alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    hits = " + ".join(f"tf{i}" for i in range(len(terms)))
    return (
        pivoted.join(F.broadcast(dfs))
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(f"CAST({hits} AS BIGINT)").alias("n_hits"),
            F.expr(score_sql).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )
