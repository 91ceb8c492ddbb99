"""Persisted inverted-index BM25 (operators/inverted_index.py): the served
path must equal the inline oracle-checked path row for row, the postings
scan must prune to the query terms' buckets, and the Python/Spark bucket
twins must agree (a divergence would silently skip a term's partition).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions.hashing import md5_token_bucket
from migrate_cassandra_to_mysql_spark.functions.localframe import local_frame
from migrate_cassandra_to_mysql_spark.operators import inverted_index
from migrate_cassandra_to_mysql_spark.plans.textplans import (
    _BM25_TERMS,
    _bm25_score_sql,
    bm25_topk_search,
)
from migrate_cassandra_to_mysql_spark.sources.parquet import table as T


@pytest.fixture(scope="module")
def index_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("invidx"))
    inverted_index.build_inverted_index(T(spark, sf_dir, "documents"), d)
    return d


def test_term_bucket_matches_spark_expression(spark):
    words = ["spark", "join", "window", "stream", "the", "a", "merge"]
    df = spark.createDataFrame([(w,) for w in words], "tok string")
    got = {
        r["tok"]: r["b"]
        for r in df.select(
            "tok", md5_token_bucket(F.col("tok"), 32).cast("int").alias("b")
        ).collect()
    }
    for w in words:
        assert inverted_index.term_bucket(w, 32) == got[w], w


def test_served_equals_inline(spark, sf_dir, index_dir):
    inline = bm25_topk_search(spark, sf_dir).toPandas()
    served = inverted_index.bm25_search(
        spark, index_dir, _BM25_TERMS, k=20, score_sql=_bm25_score_sql()
    ).toPandas()
    assert list(served["doc_id"]) == list(inline["doc_id"])
    assert list(served["n_hits"]) == list(inline["n_hits"])
    assert (served["bm25"].to_numpy() == inline["bm25"].to_numpy()).all()


def test_postings_scan_prunes_to_term_buckets(spark, index_dir):
    plan = inverted_index.bm25_search(
        spark, index_dir, _BM25_TERMS
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:300]
    assert "bucket" in seg
    # the term set must reach the postings scan as a pushed data filter
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "tok" in pushed


def test_bucket_partitions_cover_expected_set(spark, index_dir):
    import os

    on_disk = {
        int(p.split("=")[1])
        for p in os.listdir(f"{index_dir}/postings")
        if p.startswith("bucket=")
    }
    assert on_disk  # non-empty corpus inverts to at least one bucket
    assert on_disk <= set(range(inverted_index.DEFAULT_BUCKETS))
    for t in _BM25_TERMS:
        assert inverted_index.term_bucket(t) in on_disk, t


def test_unknown_term_contributes_nothing(spark, sf_dir, index_dir):
    # A query term absent from the corpus must not change the result set
    # relative to the same query without it (its tf is 0 everywhere).
    base = inverted_index.bm25_search(
        spark, index_dir, ["spark", "join"], k=10
    ).toPandas()
    with_ghost = inverted_index.bm25_search(
        spark, index_dir, ["spark", "join", "zzz_not_a_token"], k=10
    ).toPandas()
    assert list(base["doc_id"]) == list(with_ghost["doc_id"])
    assert (base["bm25"].to_numpy() == with_ghost["bm25"].to_numpy()).all()


def test_stats_match_corpus(spark, sf_dir, index_dir):
    stats = spark.read.parquet(f"{index_dir}/stats").collect()[0]
    docs = T(spark, sf_dir, "documents")
    expect = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+")).cast("long")).alias(
            "s"
        ),
    ).collect()[0]
    assert stats["n_docs"] == expect["n"]
    assert stats["sum_dl"] == expect["s"]


def test_append_then_compact_lifecycle(spark, sf_dir, tmp_path):
    """The daily-ingest loop at 100 TB: the build writes the hash
    buckets and each append adds one segment file (bucket=-1);
    compact_postings folds the segment back into the buckets and
    bin-packs them (bucket layout preserved) and the index must answer
    queries identically to a single-pass build — pinned row-for-row,
    plus the file-count audit (VERDICT r6 ask #5)."""
    import glob

    docs = T(spark, sf_dir, "documents")
    full_dir = str(tmp_path / "full")
    inc_dir = str(tmp_path / "inc")
    inverted_index.build_inverted_index(docs, full_dir)
    inverted_index.build_inverted_index(
        docs.where(F.col("doc_id") % 4 == 0), inc_dir
    )
    for gen in (1, 2, 3):
        inverted_index.append_to_inverted_index(
            docs.where(F.col("doc_id") % 4 == gen), inc_dir
        )

    def n_files(d):
        return len(
            [p for p in glob.glob(f"{d}/postings/bucket=*/ingest_batch=*/part-*")]
        )

    before = n_files(inc_dir)
    stats = inverted_index.compact_postings(spark, inc_dir)
    after = n_files(inc_dir)
    assert stats["files_in"] == before
    assert stats["files_out"] == after
    # the build's files per bucket plus one segment file per append;
    # compaction folds the segment and packs each bucket back to 1
    # (tiny partitions, one target bin)
    assert after < before
    assert after == stats["partitions"]

    a = inverted_index.bm25_search(spark, full_dir, _BM25_TERMS, k=20).toPandas()
    b = inverted_index.bm25_search(spark, inc_dir, _BM25_TERMS, k=20).toPandas()
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert (a["bm25"].to_numpy() == b["bm25"].to_numpy()).all()
    # bucket pruning still works on the compacted layout
    plan = inverted_index.bm25_search(
        spark, inc_dir, _BM25_TERMS
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    sa = spark.read.parquet(f"{full_dir}/stats").collect()[0]
    sb = spark.read.parquet(f"{inc_dir}/stats").collect()[0]
    assert (sa["n_docs"], sa["sum_dl"]) == (sb["n_docs"], sb["sum_dl"])


def test_null_and_empty_text_docs_count_in_stats(spark, tmp_path):
    # ADVICE r6: n_docs derived from postings silently dropped docs whose
    # text is NULL/empty (no postings rows) — idf then diverged from the
    # inline path's count(*). stats now derives from doclens/, where
    # every doc lands.
    docs = spark.createDataFrame(
        [
            (0, "spark join spark"),
            (1, None),
            (2, ""),
            (3, "join window"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "nulltext")
    inverted_index.build_inverted_index(docs, d)
    stats = spark.read.parquet(f"{d}/stats").collect()[0]
    assert stats["n_docs"] == 4  # all docs, incl. NULL and empty text
    # inline semantics: NULL text -> 0 (sum skips NULL), '' -> 1
    # (split('') = ['']), so 3 + 0 + 1 + 2
    assert stats["sum_dl"] == 6
    # and the served path still scores the non-empty docs
    out = inverted_index.bm25_search(
        spark, d, ["spark", "join"], k=10
    ).toPandas()
    assert set(out["doc_id"]) == {0, 3}


def test_incremental_append_equals_full_build(spark, sf_dir, tmp_path):
    # Build an index over the first half, append the second half: the
    # result must answer queries identically to a single-pass build over
    # the full corpus.
    docs = T(spark, sf_dir, "documents")
    full_dir = str(tmp_path / "full")
    inc_dir = str(tmp_path / "inc")
    inverted_index.build_inverted_index(docs, full_dir)
    inverted_index.build_inverted_index(
        docs.where(F.col("doc_id") % 2 == 0), inc_dir
    )
    inverted_index.append_to_inverted_index(
        docs.where(F.col("doc_id") % 2 == 1), inc_dir
    )
    a = inverted_index.bm25_search(spark, full_dir, _BM25_TERMS, k=20).toPandas()
    b = inverted_index.bm25_search(spark, inc_dir, _BM25_TERMS, k=20).toPandas()
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert (a["bm25"].to_numpy() == b["bm25"].to_numpy()).all()
    # the stats layer agrees exactly too
    sa = spark.read.parquet(f"{full_dir}/stats").collect()[0]
    sb = spark.read.parquet(f"{inc_dir}/stats").collect()[0]
    assert (sa["n_docs"], sa["sum_dl"]) == (sb["n_docs"], sb["sum_dl"])


def test_search_races_refresh_without_errors(spark, sf_dir, tmp_path):
    """VERDICT r7 ask #7: a serving search racing a concurrent derived-
    layer refresh (an atomic stats/ pointer flip, then one manifest
    commit over postings/doclens/stats) must never error AND always
    return the same (correct) answer — the flip is atomic and each
    query pins the version it resolved."""
    import threading

    d = str(tmp_path / "raceidx")
    docs = T(spark, sf_dir, "documents")
    inverted_index.build_inverted_index(docs, d)
    expected = inverted_index.bm25_search(
        spark, d, _BM25_TERMS, k=20, score_sql=_bm25_score_sql()
    ).toPandas()

    stop = threading.Event()
    refresh_errors: list[BaseException] = []

    def refresher():
        try:
            while not stop.is_set():
                inverted_index._refresh_derived(spark, d)
        except BaseException as e:  # surfaced in the main thread
            refresh_errors.append(e)

    t = threading.Thread(target=refresher, daemon=True)
    t.start()
    try:
        for _ in range(12):
            got = inverted_index.bm25_search(
                spark, d, _BM25_TERMS, k=20, score_sql=_bm25_score_sql()
            ).toPandas()
            assert list(got["doc_id"]) == list(expected["doc_id"])
            assert (
                got["bm25"].to_numpy() == expected["bm25"].to_numpy()
            ).all()
    finally:
        stop.set()
        t.join(timeout=120)
    assert not refresh_errors, refresh_errors


def test_doclens_compaction_bin_packs_by_bytes(spark, sf_dir, tmp_path):
    """The doclens layer is one row per DOCUMENT — billions of rows at
    100 TB — so compaction must bin-pack it by listed bytes like every
    other layer, not funnel it through one task/file. With a target
    below the layer's byte size (and read splits narrowed so the tiny
    test files don't combine), the rewrite must emit >1 file, report
    itself in the returned stats, and leave the content identical."""
    docs = T(spark, sf_dir, "documents")
    d = str(tmp_path / "idx")
    inverted_index.build_inverted_index(docs.where(F.col("doc_id") % 4 == 0), d)
    for gen in (1, 2, 3):
        inverted_index.append_to_inverted_index(
            docs.where(F.col("doc_id") % 4 == gen), d
        )
    before = (
        spark.read.parquet(f"{d}/doclens")
        .drop("ingest_batch")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    conf = spark.conf
    old_mpb = conf.get("spark.sql.files.maxPartitionBytes")
    old_open = conf.get("spark.sql.files.openCostInBytes")
    try:
        conf.set("spark.sql.files.maxPartitionBytes", "65536")
        conf.set("spark.sql.files.openCostInBytes", "65536")
        stats = inverted_index.compact_postings(spark, d, target_file_bytes=1)
    finally:
        conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        conf.set("spark.sql.files.openCostInBytes", old_open)
    assert stats["doclens"]["files_in"] == 4
    assert stats["doclens"]["files_out"] > 1
    assert stats["doclens"]["bytes"] > 0
    after = (
        spark.read.parquet(f"{d}/doclens")
        .drop("ingest_batch")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert before.equals(after)


def test_data_layers_are_versioned_from_first_build(spark, index_dir):
    """Every replaceable layer is a versioned symlink from the FIRST
    build (layout.ensure_live_dir / .new+swap discipline) — so the first
    compaction flips a pointer instead of renaming a real dir out from
    under an in-flight reader mid-execution (the FILE_NOT_EXIST mode the
    sf1 serving soak caught in round 10)."""
    import os

    for layer in inverted_index.LAYERS:
        assert os.path.islink(f"{index_dir}/{layer}"), layer
        assert os.path.isdir(os.path.realpath(f"{index_dir}/{layer}")), layer


def test_bm25_reads_are_snapshot_consistent_across_layer_swaps(
    spark, sf_dir, tmp_path_factory
):
    """Cross-layer atomicity: a maintainer that has swapped ONE derived
    layer but not yet committed the snapshot manifest must be invisible —
    bm25_search resolves all layers from the manifest, so it keeps the
    previous consistent set instead of reading the newly swapped stats.
    After the commit, reads flip to the new set atomically."""
    from migrate_cassandra_to_mysql_spark.operators.layout import (
        commit_live_snapshot,
        read_parquet_retry,
        swap_live_dir,
    )

    d = str(tmp_path_factory.mktemp("invidx_snap"))
    inverted_index.build_inverted_index(T(spark, sf_dir, "documents"), d)

    def serve():
        return inverted_index.bm25_search(
            spark, d, _BM25_TERMS, k=10, score_sql=_bm25_score_sql()
        ).toPandas()

    before = serve()

    # mid-refresh state: stats whose sum_dl would visibly change every
    # length normalization are swapped in, but the manifest is NOT yet
    # committed
    (
        read_parquet_retry(spark, f"{d}/stats")
        .withColumn("sum_dl", (F.col("sum_dl") * 1000).cast("long"))
        .write.mode("overwrite")
        .parquet(f"{d}/stats.new")
    )
    swap_live_dir(d, "stats")
    mid = serve()
    assert list(mid["doc_id"]) == list(before["doc_id"])
    assert (mid["bm25"].to_numpy() == before["bm25"].to_numpy()).all()

    # commit: readers flip to the new (distorted) stats — proving the
    # manifest, not the live symlink, is what bm25_search resolves
    commit_live_snapshot(d, inverted_index.LAYERS)
    after = serve()
    assert (after["bm25"].to_numpy() != before["bm25"].to_numpy()).any()


def test_delete_docs_tombstone_then_purge(spark, sf_dir, tmp_path_factory):
    """Tombstone deletion lifecycle for the inverted index: delete_docs
    makes documents invisible to bm25 IMMEDIATELY — including their
    effect on df / n_docs / sum_dl, so served scores EQUAL an index
    rebuilt without them (not merely 'rows filtered'); compact_postings
    then physically purges postings+doclens rows and resets the
    tombstone layer with results unchanged."""
    d = str(tmp_path_factory.mktemp("invidx_del"))
    docs = T(spark, sf_dir, "documents")
    inverted_index.build_inverted_index(docs, d)

    def serve(idx):
        return inverted_index.bm25_search(
            spark, idx, _BM25_TERMS, k=10, score_sql=_bm25_score_sql()
        ).toPandas()

    before = serve(d)
    victims = [int(x) for x in before["doc_id"].head(3)]

    inverted_index.delete_docs(spark, d, victims)
    got = serve(d)
    assert not (set(got["doc_id"]) & set(victims))

    ref = str(tmp_path_factory.mktemp("invidx_del_ref"))
    inverted_index.build_inverted_index(
        docs.where(~F.col("doc_id").isin(victims)), ref
    )
    want = serve(ref)
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert (got["bm25"].to_numpy() == want["bm25"].to_numpy()).all()

    # physical purge rides compaction; results unchanged, layer reset
    inverted_index.compact_postings(spark, d)
    after = serve(d)
    assert list(after["doc_id"]) == list(want["doc_id"])
    assert (after["bm25"].to_numpy() == want["bm25"].to_numpy()).all()
    assert spark.read.parquet(f"{d}/deletes").count() == 0
    left = (
        spark.read.parquet(f"{d}/postings")
        .where(F.col("doc_id").isin(victims))
        .count()
    )
    assert left == 0
    assert (
        spark.read.parquet(f"{d}/doclens")
        .where(F.col("doc_id").isin(victims))
        .count()
        == 0
    )


def test_delete_promotes_new_tombstone_version(
    spark, sf_dir, tmp_path_factory
):
    """Deletion atomicity (r10 ADVICE): delete_docs must stage the
    enlarged tombstone set in a NEW deletes version dir, never append
    into the live one — a reader whose manifest pinned the pre-delete
    version keeps reading EXACTLY the old tombstone set until the
    deletion's own manifest commit flips deletes+stats together.
    Pinned: (a) the live deletes realpath changes across delete_docs,
    (b) the previously-pinned version dir still exists and still holds
    only the old set, (c) the manifest records the new version."""
    import json
    import os

    d = str(tmp_path_factory.mktemp("invidx_atomic_del"))
    docs = T(spark, sf_dir, "documents")
    inverted_index.build_inverted_index(docs, d)
    ids = [int(r["doc_id"]) for r in docs.select("doc_id").head(4)]

    inverted_index.delete_docs(spark, d, ids[:2])
    v1 = os.path.realpath(f"{d}/deletes")
    pinned_v1 = json.load(open(f"{d}/_snapshot.json"))["layers"]["deletes"]
    assert os.path.join(d, pinned_v1) == v1
    old_set = {
        r["doc_id"] for r in spark.read.parquet(v1).collect()
    }
    assert old_set == set(ids[:2])

    inverted_index.delete_docs(spark, d, ids[2:])
    v2 = os.path.realpath(f"{d}/deletes")
    assert v2 != v1  # a NEW version dir, not an in-place append
    # the pre-delete reader's pinned version is intact and unchanged
    assert os.path.isdir(v1)
    assert {
        r["doc_id"] for r in spark.read.parquet(v1).collect()
    } == set(ids[:2])
    # the new version holds the full enlarged set and the manifest
    # moved with it
    assert {
        r["doc_id"] for r in spark.read.parquet(v2).collect()
    } == set(ids)
    pinned_v2 = json.load(open(f"{d}/_snapshot.json"))["layers"]["deletes"]
    assert os.path.join(d, pinned_v2) == v2


def test_delete_vectors_promotes_new_tombstone_version(
    spark, sf_dir, tmp_path_factory
):
    """Vector-index twin of the deletion-atomicity pin: delete_vectors
    stages deletes.new and promotes a fresh version; the pre-delete
    pinned version survives untouched."""
    import json
    import os

    from migrate_cassandra_to_mysql_spark.operators import ivf_index

    d = str(tmp_path_factory.mktemp("ivf_atomic_del"))
    emb = T(spark, sf_dir, "embeddings")
    ivf_index.build_ivfpq_index(emb, d)
    ids = [int(r["vec_id"]) for r in emb.select("vec_id").head(4)]

    ivf_index.delete_vectors(spark, d, ids[:2])
    v1 = os.path.realpath(f"{d}/deletes")
    assert {
        r["vec_id"] for r in spark.read.parquet(v1).collect()
    } == set(ids[:2])

    ivf_index.delete_vectors(spark, d, ids[2:])
    v2 = os.path.realpath(f"{d}/deletes")
    assert v2 != v1
    assert os.path.isdir(v1)
    assert {
        r["vec_id"] for r in spark.read.parquet(v1).collect()
    } == set(ids[:2])
    assert {
        r["vec_id"] for r in spark.read.parquet(v2).collect()
    } == set(ids)
    pinned = json.load(open(f"{d}/_snapshot.json"))["layers"]["deletes"]
    assert os.path.join(d, pinned) == v2


def test_readd_after_delete_supersedes(spark, sf_dir, tmp_path_factory):
    """A tombstoned doc_id APPENDED again (takedown reversal / corrected
    re-crawl) becomes visible with exactly its new content: the append
    path runs the owed physical purge first (compact_postings), so the
    re-added copy is the only one — served results, df, and n_docs must
    equal the never-deleted index (a naive tombstone-clear would have
    resurrected the OLD rows beside the new copy and double-counted)."""
    docs = T(spark, sf_dir, "documents")
    d = str(tmp_path_factory.mktemp("invidx_readd"))
    inverted_index.build_inverted_index(docs, d)

    def serve():
        return inverted_index.bm25_search(
            spark, d, _BM25_TERMS, k=10, score_sql=_bm25_score_sql()
        ).toPandas()

    want = serve()
    victims = [int(x) for x in want["doc_id"].head(3)]
    inverted_index.delete_docs(spark, d, victims)
    assert not (set(serve()["doc_id"]) & set(victims))

    inverted_index.append_to_inverted_index(
        docs.where(F.col("doc_id").isin(victims)), d
    )
    got = serve()
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert (got["bm25"].to_numpy() == want["bm25"].to_numpy()).all()
    # exactly ONE physical copy of each re-added doc's doclens row, and
    # the tombstone layer is reset
    counts = (
        spark.read.parquet(f"{d}/doclens")
        .where(F.col("doc_id").isin(victims))
        .groupBy("doc_id")
        .count()
        .collect()
    )
    assert len(counts) == len(victims)
    assert all(r["count"] == 1 for r in counts)
    assert spark.read.parquet(f"{d}/deletes").count() == 0


def test_filtered_search_equals_rank_all_then_filter(spark, sf_dir, index_dir):
    """Serving-time metadata filter (bm25_search(allowed=...)): scores
    stay CORPUS-GLOBAL (the filter restricts candidates, never the
    df/n_docs/sum_dl stats), so filter-then-rank must equal
    rank-everything-then-filter — the invariant that distinguishes a
    filter from a deletion (delete_docs DOES refresh the stats)."""
    docs = T(spark, sf_dir, "documents")
    allowed = docs.where(F.col("lang") == "en").select("doc_id")
    got = inverted_index.bm25_search(
        spark, index_dir, _BM25_TERMS, k=10,
        score_sql=_bm25_score_sql(), allowed=allowed,
    ).toPandas()
    # k bounds TakeOrdered's heap allocation — size it by the corpus,
    # not a sentinel "infinity" (k=1e9 allocates a 1e9-slot queue)
    k_all = int(docs.count())
    everything = inverted_index.bm25_search(
        spark, index_dir, _BM25_TERMS, k=k_all,
        score_sql=_bm25_score_sql(),
    ).toPandas()
    en = {r["doc_id"] for r in allowed.collect()}
    want = everything[everything["doc_id"].isin(en)].head(10)
    assert list(got["doc_id"]) == list(want["doc_id"])
    # global-stats invariance: the shared docs carry IDENTICAL scores
    assert (got["bm25"].to_numpy() == want["bm25"].to_numpy()).all()
    # and the filter actually bit: some unfiltered top-10 doc is non-en
    assert set(got["doc_id"]) != set(everything.head(10)["doc_id"])


def test_filtered_search_still_hides_tombstones(spark, sf_dir, tmp_path_factory):
    """allowed ∩ tombstoned stays invisible: the filter semi-join must
    compose with (not bypass) the deletion anti-join."""
    d = str(tmp_path_factory.mktemp("invidx_filt_del"))
    docs = T(spark, sf_dir, "documents")
    inverted_index.build_inverted_index(docs, d)
    allowed = docs.where(F.col("lang") == "en").select("doc_id")
    before = inverted_index.bm25_search(
        spark, d, _BM25_TERMS, k=10,
        score_sql=_bm25_score_sql(), allowed=allowed,
    ).toPandas()
    victims = [int(x) for x in before["doc_id"].head(2)]
    inverted_index.delete_docs(spark, d, victims)
    got = inverted_index.bm25_search(
        spark, d, _BM25_TERMS, k=10,
        score_sql=_bm25_score_sql(), allowed=allowed,
    ).toPandas()
    assert not (set(got["doc_id"]) & set(victims))


def test_merge_shards_equals_single_build(spark, sf_dir, tmp_path_factory):
    """Shard consolidation: two half-corpus shards merged == one
    single-pass build, at the query level (scores bit-equal) and at the
    stats level — the merge moves postings and doclens, recomputes
    stats and makes one manifest commit; it never re-tokenizes."""
    docs = T(spark, sf_dir, "documents")
    a = str(tmp_path_factory.mktemp("shard_a"))
    b = str(tmp_path_factory.mktemp("shard_b"))
    m = str(tmp_path_factory.mktemp("merged"))
    ref = str(tmp_path_factory.mktemp("single"))
    inverted_index.build_inverted_index(docs.where(F.col("doc_id") % 2 == 0), a)
    inverted_index.build_inverted_index(docs.where(F.col("doc_id") % 2 == 1), b)
    inverted_index.build_inverted_index(docs, ref)
    stats = inverted_index.merge_indexes(spark, [a, b], m)
    assert stats["buckets"] > 0 and stats["files_out"] >= stats["buckets"]

    def serve(idx):
        return inverted_index.bm25_search(
            spark, idx, _BM25_TERMS, k=20, score_sql=_bm25_score_sql()
        ).toPandas()

    got, want = serve(m), serve(ref)
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert (got["bm25"].to_numpy() == want["bm25"].to_numpy()).all()
    s_m = spark.read.parquet(f"{m}/stats").collect()[0]
    s_r = spark.read.parquet(f"{ref}/stats").collect()[0]
    assert s_m["n_docs"] == s_r["n_docs"] and s_m["sum_dl"] == s_r["sum_dl"]


def test_merge_purges_shard_tombstones(spark, sf_dir, tmp_path_factory):
    """A shard's tombstones are the merge's owed compaction: the merged
    index equals a build over the union of the shards' LIVE corpora —
    victims gone physically, stats matching rebuilt-without."""
    docs = T(spark, sf_dir, "documents")
    a = str(tmp_path_factory.mktemp("shard_a"))
    b = str(tmp_path_factory.mktemp("shard_b"))
    m = str(tmp_path_factory.mktemp("merged"))
    ref = str(tmp_path_factory.mktemp("single"))
    even = docs.where(F.col("doc_id") % 2 == 0)
    inverted_index.build_inverted_index(even, a)
    inverted_index.build_inverted_index(docs.where(F.col("doc_id") % 2 == 1), b)
    victims = [int(r["doc_id"]) for r in even.select("doc_id").limit(3).collect()]
    inverted_index.delete_docs(spark, a, victims)
    inverted_index.build_inverted_index(
        docs.where(~F.col("doc_id").isin(victims)), ref
    )
    inverted_index.merge_indexes(spark, [a, b], m)

    def serve(idx):
        return inverted_index.bm25_search(
            spark, idx, _BM25_TERMS, k=20, score_sql=_bm25_score_sql()
        ).toPandas()

    got, want = serve(m), serve(ref)
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert (got["bm25"].to_numpy() == want["bm25"].to_numpy()).all()
    assert (
        spark.read.parquet(f"{m}/postings")
        .where(F.col("doc_id").isin(victims))
        .count()
        == 0
    )
    assert not os.path.exists(f"{m}/deletes") or (
        spark.read.parquet(f"{m}/deletes").count() == 0
    )


def test_merge_rejects_overlapping_shards(spark, sf_dir, tmp_path_factory):
    docs = T(spark, sf_dir, "documents")
    a = str(tmp_path_factory.mktemp("shard_a"))
    b = str(tmp_path_factory.mktemp("shard_b"))
    inverted_index.build_inverted_index(docs.where(F.col("doc_id") < 30), a)
    inverted_index.build_inverted_index(docs.where(F.col("doc_id") < 10), b)
    with pytest.raises(ValueError, match="more than one shard"):
        inverted_index.merge_indexes(
            spark, [a, b], str(tmp_path_factory.mktemp("merged"))
        )


def test_merge_rejects_bucket_count_mismatch(spark, sf_dir, tmp_path_factory):
    docs = T(spark, sf_dir, "documents")
    a = str(tmp_path_factory.mktemp("shard_a"))
    b = str(tmp_path_factory.mktemp("shard_b"))
    inverted_index.build_inverted_index(
        docs.where(F.col("doc_id") % 2 == 0), a
    )
    inverted_index.build_inverted_index(
        docs.where(F.col("doc_id") % 2 == 1), b, n_buckets=8
    )
    with pytest.raises(ValueError, match="different buckets"):
        inverted_index.merge_indexes(
            spark, [a, b], str(tmp_path_factory.mktemp("merged"))
        )


def test_merge_rejects_recorded_count_mismatch_before_any_job(spark, tmp_path):
    """Shards that record different bucket counts are rejected by a
    driver-side comparison, before any Spark job runs."""
    a, b, m = (str(tmp_path / n) for n in ("a", "b", "m"))
    schema = "doc_id long, text string"
    inverted_index.build_inverted_index(
        local_frame(spark, [(1, "zeta sigma")], schema), a
    )
    inverted_index.build_inverted_index(
        local_frame(spark, [(2, "zeta theta")], schema), b, n_buckets=64
    )
    sc = spark.sparkContext
    sc.setJobGroup("merge.count_mismatch", "merge.count_mismatch")
    try:
        with pytest.raises(ValueError, match="different buckets"):
            inverted_index.merge_indexes(spark, [a, b], m)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("merge.count_mismatch") == []
    assert not os.path.exists(m)


def test_merge_of_64_bucket_shards_serves_like_one_64_bucket_build(
    spark, sf_dir, tmp_path
):
    docs = T(spark, sf_dir, "documents")
    a, b, m, ref = (str(tmp_path / n) for n in ("a", "b", "m", "ref"))
    inverted_index.build_inverted_index(
        docs.where(F.col("doc_id") % 2 == 0), a, n_buckets=64
    )
    inverted_index.build_inverted_index(
        docs.where(F.col("doc_id") % 2 == 1), b, n_buckets=64
    )
    inverted_index.build_inverted_index(docs, ref, n_buckets=64)
    inverted_index.merge_indexes(spark, [a, b], m)
    assert inverted_index.bucket_count(m) == 64
    assert max(
        r["bucket"]
        for r in spark.read.parquet(f"{m}/postings").select("bucket").collect()
    ) >= 32

    def serve(idx, terms):
        return [
            (r["doc_id"], r["n_hits"], r["bm25"])
            for r in inverted_index.bm25_search(spark, idx, terms).collect()
        ]

    for terms in (_BM25_TERMS, ["spark", "join"], ["window"]):
        want = serve(ref, terms)
        assert want
        assert serve(m, terms) == want


def test_merge_three_random_shards_equals_single_build(
    spark, sf_dir, tmp_path_factory
):
    """N-way merge with an ARBITRARY (hash-random, uneven) shard
    assignment — the shape a per-source split really has. Merged must
    equal the single-pass build regardless of how the corpus was cut."""
    docs = T(spark, sf_dir, "documents")
    assign = F.abs(F.hash(F.col("doc_id").cast("string"))) % 7
    parts = [
        docs.where(assign < 2),          # ~2/7
        docs.where((assign >= 2) & (assign < 3)),  # ~1/7
        docs.where(assign >= 3),         # ~4/7
    ]
    dirs = []
    for i, p in enumerate(parts):
        d = str(tmp_path_factory.mktemp(f"rshard_{i}"))
        inverted_index.build_inverted_index(p, d)
        dirs.append(d)
    m = str(tmp_path_factory.mktemp("rmerged"))
    ref = str(tmp_path_factory.mktemp("rsingle"))
    inverted_index.build_inverted_index(docs, ref)
    inverted_index.merge_indexes(spark, dirs, m)

    def serve(idx):
        return inverted_index.bm25_search(
            spark, idx, _BM25_TERMS, k=20, score_sql=_bm25_score_sql()
        ).toPandas()

    got, want = serve(m), serve(ref)
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert (got["bm25"].to_numpy() == want["bm25"].to_numpy()).all()


def test_filtered_search_on_merged_index_with_tombstones(
    spark, sf_dir, tmp_path_factory
):
    """The operational paths COMPOSE: merge two shards (one carrying
    tombstones), then serve a metadata-FILTERED query on the merged
    index — result must equal rank-all-then-filter on a single-pass
    build over the live union (filter semantics global-stats, deletion
    semantics rebuild-without, merge semantics lossless)."""
    docs = T(spark, sf_dir, "documents")
    a = str(tmp_path_factory.mktemp("cshard_a"))
    b = str(tmp_path_factory.mktemp("cshard_b"))
    m = str(tmp_path_factory.mktemp("cmerged"))
    ref = str(tmp_path_factory.mktemp("csingle"))
    even = docs.where(F.col("doc_id") % 2 == 0)
    inverted_index.build_inverted_index(even, a)
    inverted_index.build_inverted_index(docs.where(F.col("doc_id") % 2 == 1), b)
    victims = [int(r["doc_id"]) for r in even.select("doc_id").limit(3).collect()]
    inverted_index.delete_docs(spark, a, victims)
    inverted_index.merge_indexes(spark, [a, b], m)
    live = docs.where(~F.col("doc_id").isin(victims))
    inverted_index.build_inverted_index(live, ref)
    allowed = live.where(F.col("lang") == "en").select("doc_id")
    got = inverted_index.bm25_search(
        spark, m, _BM25_TERMS, k=10,
        score_sql=_bm25_score_sql(), allowed=allowed,
    ).toPandas()
    want = inverted_index.bm25_search(
        spark, ref, _BM25_TERMS, k=10,
        score_sql=_bm25_score_sql(), allowed=allowed,
    ).toPandas()
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert (got["bm25"].to_numpy() == want["bm25"].to_numpy()).all()
    assert not (set(got["doc_id"]) & set(victims))


def test_delete_docs_rmw_lock_rejects_concurrent_deleter(
    spark, sf_dir, tmp_path_factory
):
    """Tombstone RMW serialization (r11 ADVICE): the whole
    read-enlarge-stage-swap sequence in delete_docs holds a
    `deletes.rmw` maintainer lockfile — a second deleter arriving while
    it is held must fail LOUDLY (single-maintainer error), because
    proceeding would read the same base set and silently discard the
    first deleter's tombstones at swap. After release the same call
    succeeds and the tombstone set is exactly the union."""
    import os

    d = str(tmp_path_factory.mktemp("invidx_rmw_lock"))
    docs = T(spark, sf_dir, "documents")
    inverted_index.build_inverted_index(docs, d)
    ids = [int(r["doc_id"]) for r in docs.select("doc_id").head(4)]

    inverted_index.delete_docs(spark, d, ids[:2])

    # Simulate a concurrent deleter mid-sequence: its RMW lock is held.
    lock = os.path.join(d, ".deletes.rmw.swap.lock")
    with open(lock, "w") as f:
        f.write("999999\n")
    try:
        with pytest.raises(RuntimeError, match="another maintainer"):
            inverted_index.delete_docs(spark, d, ids[2:])
    finally:
        os.unlink(lock)

    # Released: the retry lands and the set is the exact union.
    inverted_index.delete_docs(spark, d, ids[2:])
    got = {
        r["doc_id"]
        for r in spark.read.parquet(f"{d}/deletes").collect()
    }
    assert got == set(ids)


def _served(spark, d, terms, k=50):
    return [
        (r["doc_id"], r["n_hits"], r["bm25"])
        for r in inverted_index.bm25_search(spark, d, terms, k=k).collect()
    ]


def _stats_row(spark, d):
    r = spark.read.parquet(f"{d}/stats").collect()
    assert len(r) == 1
    return (r[0]["n_docs"], r[0]["sum_dl"])


def test_appends_around_a_delete_equal_one_build_over_live_docs(
    spark, sf_dir, tmp_path
):
    """Appends add the batch to the stats row instead of re-deriving it,
    and df is counted at query time: several appends with a delete_docs
    between two of them serve bit-identical scores, and hold the same
    stats row, as one build over the docs still live."""
    docs = T(spark, sf_dir, "documents")
    part = F.col("doc_id") % 5
    inc, ref = str(tmp_path / "inc"), str(tmp_path / "ref")
    inverted_index.build_inverted_index(docs.where(part == 0), inc)
    inverted_index.append_to_inverted_index(docs.where(part == 1), inc)
    inverted_index.append_to_inverted_index(docs.where(part == 2), inc)
    victims = [
        int(r["doc_id"])
        for r in docs.where(part <= 2).orderBy("doc_id").limit(6).collect()
    ]
    inverted_index.delete_docs(spark, inc, victims)
    inverted_index.append_to_inverted_index(docs.where(part == 3), inc)
    inverted_index.append_to_inverted_index(docs.where(part == 4), inc)
    inverted_index.build_inverted_index(
        docs.where(~F.col("doc_id").isin(victims)), ref
    )
    assert _stats_row(spark, inc) == _stats_row(spark, ref)
    for terms in (_BM25_TERMS, ["spark", "join"], ["window"]):
        got, want = _served(spark, inc, terms), _served(spark, ref, terms)
        assert got and got == want, terms


def test_append_job_budget(spark, sf_dir, tmp_path):
    """An append to an index without tombstones runs only its own
    writes: the postings append, the doclens append and the one-row
    stats write (no scan of the existing index). Counted by job group;
    the writes' worker threads inherit it."""
    docs = T(spark, sf_dir, "documents")
    d = str(tmp_path / "idx")
    inverted_index.build_inverted_index(docs.where(F.col("doc_id") % 2 == 0), d)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    sc = spark.sparkContext
    group = "test_inverted_index.append_jobs"
    sc.setJobGroup(group, "append job budget")
    try:
        inverted_index.append_to_inverted_index(batch, d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 5, n_jobs


def test_no_package_module_names_a_lexicon_layer():
    """df is counted from the postings; no package module spells a path
    under `lexicon` in code (docstrings may mention the retired layer)."""
    import ast
    import pathlib

    import migrate_cassandra_to_mysql_spark

    root = pathlib.Path(migrate_cassandra_to_mysql_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(
                node,
                (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
            )
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        hits += [
            f"{path.relative_to(root)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
            and "lexicon" in node.value
        ]
    assert hits == []


def test_index_with_a_leftover_lexicon_layer_still_serves(
    spark, sf_dir, tmp_path
):
    """An index written when a per-term df layer still existed carries a
    `lexicon` version and a manifest entry for it. Nothing reads it:
    serving is unchanged, and an append over it serves like a build."""
    import json

    docs = T(spark, sf_dir, "documents")
    d, ref = str(tmp_path / "old"), str(tmp_path / "ref")
    inverted_index.build_inverted_index(docs.where(F.col("doc_id") % 2 == 0), d)
    before = _served(spark, d, _BM25_TERMS)
    # a distorted lexicon: serving would change if anything read it
    spark.createDataFrame(
        [(t, 10**6, inverted_index.term_bucket(t)) for t in _BM25_TERMS],
        "tok string, df bigint, bucket int",
    ).write.partitionBy("bucket").parquet(f"{d}/lexicon.v1")
    os.symlink("lexicon.v1", f"{d}/lexicon")
    with open(f"{d}/_snapshot.json") as f:
        manifest = json.load(f)
    manifest["layers"]["lexicon"] = "lexicon.v1"
    with open(f"{d}/_snapshot.json", "w") as f:
        json.dump(manifest, f)
    assert _served(spark, d, _BM25_TERMS) == before

    inverted_index.append_to_inverted_index(
        docs.where(F.col("doc_id") % 2 == 1), d
    )
    inverted_index.build_inverted_index(docs, ref)
    assert _served(spark, d, _BM25_TERMS) == _served(spark, ref, _BM25_TERMS)
    assert _stats_row(spark, d) == _stats_row(spark, ref)
