"""The inverted index's append segment (operators/inverted_index.py): a
batch append writes its postings as one unbucketed file set under
`bucket=-1`, every search reads it beside its probed buckets, and
compact_postings folds it into the hash buckets. Pinned here: the file
count of a small append, job-free search planning on layers with more
partition dirs than Spark lists without a job, row-identical serving
before and after the fold, deletes and re-adds across it, and shard
merges that carry it."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions.hashing import md5_token_bucket
from migrate_cassandra_to_mysql_spark.functions.localframe import local_frame
from migrate_cassandra_to_mysql_spark.operators import inverted_index, ivf_index
from migrate_cassandra_to_mysql_spark.operators.similarity import (
    first_k_cell_centroids,
    first_k_pq_centers,
)
from migrate_cassandra_to_mysql_spark.plans.textplans import _BM25_TERMS
from migrate_cassandra_to_mysql_spark.sources.parquet import table as T

_TERM_SETS = (_BM25_TERMS, ["spark", "join"], ["window"])


def _served(spark, d, terms, k=50):
    return [
        (r["doc_id"], r["n_hits"], r["bm25"])
        for r in inverted_index.bm25_search(spark, d, terms, k=k).collect()
    ]


def _all_served(spark, d):
    return [_served(spark, d, terms) for terms in _TERM_SETS]


def _stats_row(spark, d):
    (r,) = spark.read.parquet(f"{d}/stats").collect()
    return (r["n_docs"], r["sum_dl"])


def _postings_files(d):
    return glob.glob(f"{d}/postings/bucket=*/ingest_batch=*/part-*")


def _has_segment(d):
    return os.path.isdir(f"{d}/postings/{inverted_index.SEGMENT}")


def _jobs(spark, group, fn):
    """(result, Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _batch(docs, where, n=None):
    rows = docs.where(where).orderBy("doc_id").collect()[:n]
    return [(r["doc_id"], r["text"]) for r in rows]


def test_small_append_adds_one_postings_file(spark, sf_dir, tmp_path):
    """An 8-document append writes one file, into the segment, however
    many buckets its tokens hash to."""
    docs = T(spark, sf_dir, "documents")
    d = str(tmp_path / "idx")
    inverted_index.build_inverted_index(docs.where(F.col("doc_id") % 2 == 0), d)
    batch = _batch(
        docs, (F.col("doc_id") % 2 == 1) & F.col("text").isNotNull(), 8
    )
    touched = {
        inverted_index.term_bucket(t) for _, text in batch for t in text.split()
    }
    assert len(touched) > 1  # the parent wrote one file per touched bucket
    before = set(_postings_files(d))
    inverted_index.append_to_inverted_index(
        local_frame(spark, batch, "doc_id long, text string"), d
    )
    added = set(_postings_files(d)) - before
    assert len(added) == 1
    (path,) = added
    assert f"/{inverted_index.SEGMENT}/ingest_batch=0/" in path
    # sorted by (tok, doc_id) within the file
    rows = [
        (r["tok"], r["doc_id"])
        for r in spark.read.parquet(os.path.dirname(path)).collect()
    ]
    assert rows == sorted(rows)


def test_search_planning_lists_only_probed_partitions(spark, sf_dir, tmp_path):
    """With more partition dirs than Spark lists on the driver (32),
    listing the whole layer is a Spark job; reading only the probed
    dirs keeps BM25 and IVFADC planning job-free, with the partition
    filter still on the scan."""
    inv, ivf = str(tmp_path / "inv64"), str(tmp_path / "ivf64")
    words = local_frame(
        spark,
        [
            (i, " ".join(f"t{(i * 7 + j) % 500}" for j in range(12)))
            for i in range(300)
        ],
        "doc_id long, text string",
    )
    inverted_index.build_inverted_index(words, inv, n_buckets=64)
    inverted_index.append_to_inverted_index(
        local_frame(spark, [(1000, "t1 t2 zz")], "doc_id long, text string"),
        inv,
    )
    assert len(glob.glob(f"{inv}/postings/bucket=*")) > 33
    bm25, n_bm25 = _jobs(
        spark,
        "segment.bm25_plan_64",
        lambda: inverted_index.bm25_search(
            spark, inv, ["t1", "t2", "zz"], k=5
        ),
    )
    plan = bm25._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:300]
    assert 1000 in {r["doc_id"] for r in bm25.collect()}

    emb = T(spark, sf_dir, "embeddings")
    ivf_index.build_ivfpq_index(
        emb, ivf, first_k_cell_centroids(emb, 64), first_k_pq_centers(emb, 4, 4)
    )
    ivf_index.load_ivfpq_codebooks(spark, ivf)
    ivf_index.load_ivfpq_residual_flag(spark, ivf)
    assert len(glob.glob(f"{ivf}/codes/cell=*")) > 32
    rows = emb.where(F.col("vec_id") % 100 == 0).collect()
    q = local_frame(
        spark,
        [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in rows],
        "q_id long, qv array<double>",
    )
    ann, n_ann = _jobs(
        spark,
        "segment.ann_plan_64",
        lambda: ivf_index.ivfpq_search(spark, ivf, q, k=3, n_probe=2),
    )
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan
    assert (n_bm25, n_ann) == (0, 0)
    assert ann.collect()


def test_search_with_no_probed_partition_on_disk_is_empty(spark, tmp_path):
    d = str(tmp_path / "idx")
    inverted_index.build_inverted_index(
        local_frame(spark, [(1, "alpha beta")], "doc_id long, text string"), d
    )
    ghost = next(
        t
        for t in (f"ghost{i}" for i in range(100))
        if inverted_index.term_bucket(t)
        not in {inverted_index.term_bucket(w) for w in ("alpha", "beta")}
    )
    assert _served(spark, d, [ghost]) == []


def test_appends_serve_like_one_build_before_and_after_fold(
    spark, sf_dir, tmp_path
):
    docs = T(spark, sf_dir, "documents")
    inc, ref = str(tmp_path / "inc"), str(tmp_path / "ref")
    part = F.col("doc_id") % 4
    inverted_index.build_inverted_index(docs.where(part == 0), inc)
    for gen in (1, 2, 3):
        inverted_index.append_to_inverted_index(docs.where(part == gen), inc)
    inverted_index.build_inverted_index(docs, ref)
    want = _all_served(spark, ref)
    assert all(want)
    assert _has_segment(inc)
    assert _all_served(spark, inc) == want

    stats = inverted_index.compact_postings(spark, inc)
    assert not _has_segment(inc)
    assert stats["files_out"] == len(_postings_files(inc))
    assert _all_served(spark, inc) == want
    assert _stats_row(spark, inc) == _stats_row(spark, ref)
    # the fold files each segment row in its hash bucket
    bad = (
        spark.read.parquet(f"{inc}/postings")
        .where(
            F.col("bucket")
            != md5_token_bucket(F.col("tok"), inverted_index.DEFAULT_BUCKETS)
        )
        .count()
    )
    assert bad == 0
    assert not os.path.exists(f"{inc}/postings.fold")


def test_delete_of_appended_doc_masks_then_purges(spark, sf_dir, tmp_path):
    docs = T(spark, sf_dir, "documents")
    inc, ref = str(tmp_path / "inc"), str(tmp_path / "ref")
    inverted_index.build_inverted_index(docs.where(F.col("doc_id") % 2 == 0), inc)
    inverted_index.append_to_inverted_index(
        docs.where(F.col("doc_id") % 2 == 1), inc
    )
    hits = {doc for doc, _, _ in _served(spark, inc, _BM25_TERMS)}
    victims = sorted(v for v in hits if v % 2 == 1)[:3]
    assert victims
    inverted_index.delete_docs(spark, inc, victims)
    inverted_index.build_inverted_index(
        docs.where(~F.col("doc_id").isin(victims)), ref
    )
    want = _all_served(spark, ref)
    assert _all_served(spark, inc) == want

    inverted_index.compact_postings(spark, inc)
    assert not _has_segment(inc)
    assert _all_served(spark, inc) == want
    for layer in ("postings", "doclens"):
        left = (
            spark.read.parquet(f"{inc}/{layer}")
            .where(F.col("doc_id").isin(victims))
            .count()
        )
        assert left == 0, layer
    assert spark.read.parquet(f"{inc}/deletes").count() == 0


def test_tombstoned_readd_compacts_through_the_segment(spark, sf_dir, tmp_path):
    """A re-add of a tombstoned doc triggers the owed compaction, which
    folds the segment it finds; the re-added doc then lands in a fresh
    segment of its own."""
    docs = T(spark, sf_dir, "documents")
    d, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    inverted_index.build_inverted_index(docs.where(F.col("doc_id") % 3 == 0), d)
    inverted_index.append_to_inverted_index(
        docs.where(F.col("doc_id") % 3 != 0), d
    )
    victim = min(
        doc for doc, _, _ in _served(spark, d, _BM25_TERMS) if doc % 3 != 0
    )
    inverted_index.delete_docs(spark, d, [victim])
    inverted_index.append_to_inverted_index(
        docs.where(F.col("doc_id") == victim), d
    )
    segment = spark.read.parquet(
        f"{d}/postings/{inverted_index.SEGMENT}"
    ).select("doc_id").distinct().collect()
    assert [r["doc_id"] for r in segment] == [victim]
    assert spark.read.parquet(f"{d}/deletes").count() == 0
    inverted_index.build_inverted_index(docs, ref)
    assert _all_served(spark, d) == _all_served(spark, ref)
    assert _stats_row(spark, d) == _stats_row(spark, ref)


def test_merge_keeps_shard_segments_searchable(spark, sf_dir, tmp_path):
    """Shards with appends merge: the merged index keeps the union of
    the segments as its own segment, and serves like one build before
    and after its compaction folds it."""
    docs = T(spark, sf_dir, "documents")
    a, b, m, ref = (str(tmp_path / n) for n in ("a", "b", "m", "ref"))
    part = F.col("doc_id") % 4
    inverted_index.build_inverted_index(docs.where(part == 0), a)
    inverted_index.append_to_inverted_index(docs.where(part == 1), a)
    inverted_index.build_inverted_index(docs.where(part == 2), b)
    inverted_index.append_to_inverted_index(docs.where(part == 3), b)
    inverted_index.build_inverted_index(docs, ref)
    inverted_index.merge_indexes(spark, [a, b], m)
    assert _has_segment(m)
    merged_segment = (
        spark.read.parquet(f"{m}/postings")
        .where(F.col("bucket") == inverted_index.SEGMENT_BUCKET)
        .select((F.col("doc_id") % 4).alias("p"))
        .distinct()
        .collect()
    )
    assert sorted(r["p"] for r in merged_segment) == [1, 3]
    want = _all_served(spark, ref)
    assert _all_served(spark, m) == want
    inverted_index.compact_postings(spark, m)
    assert not _has_segment(m)
    assert _all_served(spark, m) == want

