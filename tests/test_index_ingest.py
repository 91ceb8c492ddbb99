"""Streaming index ingestion (streaming/index_ingest.py): micro-batch
drains must converge to the single-pass build's query results, replays
must be idempotent (the dynamic-partition-overwrite exactly-once
contract), and the streamed layout must compact back to few files
without changing answers.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions.hashing import md5_token_bucket
from migrate_cassandra_to_mysql_spark.functions.localframe import local_frame
from migrate_cassandra_to_mysql_spark.operators import inverted_index
from migrate_cassandra_to_mysql_spark.plans.textplans import (
    _BM25_TERMS,
    _bm25_score_sql,
)
from migrate_cassandra_to_mysql_spark.sources.parquet import table as T
from migrate_cassandra_to_mysql_spark.streaming.index_ingest import (
    stream_docs_into_inverted_index,
)


def _search(spark, d):
    return inverted_index.bm25_search(
        spark, d, _BM25_TERMS, k=20, score_sql=_bm25_score_sql()
    ).toPandas()


@pytest.fixture(scope="module")
def streamed(spark, sf_dir, tmp_path_factory):
    """Three incremental drains (one new file each) into one index; the
    slices partition the corpus by doc_id % 3."""
    root = tmp_path_factory.mktemp("ingest")
    src = str(root / "src")
    ckpt = str(root / "ckpt")
    idx = str(root / "idx")
    docs = T(spark, sf_dir, "documents")
    batches = []
    for gen in (0, 1, 2):
        docs.where(F.col("doc_id") % 3 == gen).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        bids = stream_docs_into_inverted_index(spark, src, ckpt, idx)
        batches.append(bids)
    return {"src": src, "ckpt": ckpt, "idx": idx, "batches": batches}


def test_each_drain_processes_exactly_one_batch(streamed):
    assert [len(b) for b in streamed["batches"]] == [1, 1, 1]
    assert len({b[0] for b in streamed["batches"]}) == 3


def test_streamed_equals_single_pass_build(spark, sf_dir, streamed, tmp_path):
    full = str(tmp_path / "full")
    inverted_index.build_inverted_index(T(spark, sf_dir, "documents"), full)
    a = _search(spark, full)
    b = _search(spark, streamed["idx"])
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert (a["bm25"].to_numpy() == b["bm25"].to_numpy()).all()
    sa = spark.read.parquet(f"{full}/stats").collect()[0]
    sb = spark.read.parquet(f"{streamed['idx']}/stats").collect()[0]
    assert (sa["n_docs"], sa["sum_dl"]) == (sb["n_docs"], sb["sum_dl"])


def test_restart_without_new_data_is_a_noop(spark, streamed):
    before = _search(spark, streamed["idx"])
    bids = stream_docs_into_inverted_index(
        spark, streamed["src"], streamed["ckpt"], streamed["idx"]
    )
    assert bids == []  # checkpoint remembers every file
    after = _search(spark, streamed["idx"])
    assert before.equals(after)


def test_crash_replay_is_idempotent(spark, sf_dir, streamed):
    """Simulate the crash-after-write-before-commit window: re-run a
    committed batch's writes verbatim. Dynamic partition overwrite must
    rewrite that batch's partitions, not duplicate them."""
    idx = streamed["idx"]
    before = _search(spark, idx)
    n_before = spark.read.parquet(f"{idx}/postings").count()
    # the stream writes batch id B under ingest_batch=B+1 (0 is the
    # batch-build layer) — a verbatim replay rewrites the same partition
    replay_bid = streamed["batches"][1][0] + 1
    docs_b = T(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 1)
    postings, doclens = inverted_index.encode_postings(docs_b)
    (
        postings.withColumn("ingest_batch", F.lit(replay_bid))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket", "ingest_batch")
        .parquet(f"{idx}/postings")
    )
    (
        doclens.withColumn("ingest_batch", F.lit(replay_bid))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(f"{idx}/doclens")
    )
    assert spark.read.parquet(f"{idx}/postings").count() == n_before
    after = _search(spark, idx)
    assert before.equals(after)


def test_compact_streamed_then_identical_answers(spark, streamed):
    idx = streamed["idx"]
    before = _search(spark, idx)
    files_before = len(glob.glob(f"{idx}/postings/bucket=*/*/part-*"))
    stats = inverted_index.compact_postings(spark, idx)
    files_after = len(glob.glob(f"{idx}/postings/bucket=*/*/part-*"))
    assert stats["files_in"] == files_before
    assert stats["files_out"] == files_after
    assert files_after < files_before
    assert files_after == stats["partitions"]  # one file per tiny bucket
    after = _search(spark, idx)
    assert before.equals(after)
    # every bucket collapsed to the merged ingest_batch=0 layout
    assert all(
        p.endswith("ingest_batch=0")
        for p in glob.glob(f"{idx}/postings/bucket=*/ingest_batch=*")
    )


def test_stream_onto_nonempty_batch_built_index(spark, sf_dir, tmp_path):
    """ADVICE r7: streaming into an index whose postings came from a
    NON-empty batch build used to mix leaf depths (bucket=N/part-* vs
    bucket=N/ingest_batch=M/part-*), which partition discovery rejects.
    With the uniform ingest_batch layout the composite index must read,
    search, and equal a single-pass build."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    idx, full = str(tmp_path / "idx"), str(tmp_path / "full")
    docs = T(spark, sf_dir, "documents")
    inverted_index.build_inverted_index(
        docs.where(F.col("doc_id") % 2 == 0), idx
    )
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    bids = stream_docs_into_inverted_index(spark, src, ckpt, idx)
    assert len(bids) == 1
    inverted_index.build_inverted_index(docs, full)
    a = _search(spark, full)
    b = _search(spark, idx)
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert (a["bm25"].to_numpy() == b["bm25"].to_numpy()).all()
    # and batch-compaction of the composite layout keeps answers pinned
    inverted_index.compact_postings(spark, idx)
    c = _search(spark, idx)
    assert b.equals(c)


def test_stream_rejects_legacy_mixed_depth_layout(spark, sf_dir, tmp_path):
    """A pre-uniform index (bare part-files directly under bucket=N) must
    be rejected at stream START with a migration hint, not fail later
    inside partition discovery."""
    src, ckpt, idx = (str(tmp_path / p) for p in ("src", "ckpt", "idx"))
    docs = T(spark, sf_dir, "documents").limit(50)
    postings, _ = inverted_index.encode_postings(docs)
    # legacy layout: no ingest_batch level
    postings.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{idx}/postings"
    )
    docs.coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(ValueError, match="legacy"):
        stream_docs_into_inverted_index(spark, src, ckpt, idx)


def test_stream_into_a_64_bucket_index_hashes_with_its_count(spark, tmp_path):
    """The stream hashes with the bucket count the index recorded at
    build: terms whose 32- and 64-bucket hashes differ are found by
    every search, with a single 64-bucket build's scores, before and
    after compaction."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    idx, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    schema = "doc_id long, text string"
    terms = ("zeta", "sigma", "theta")
    assert all(
        inverted_index.term_bucket(t, 32) != inverted_index.term_bucket(t, 64)
        for t in terms
    )
    built = [
        (i, f"alpha w{i % 5}" + (" zeta" if i % 4 == 0 else ""))
        for i in range(20)
    ]
    streamed = [(100, "zeta sigma"), (101, "theta zeta theta")]
    inverted_index.build_inverted_index(
        local_frame(spark, built, schema), idx, n_buckets=64
    )
    local_frame(spark, streamed, schema).coalesce(1).write.parquet(src)
    assert len(stream_docs_into_inverted_index(spark, src, ckpt, idx)) == 1
    misfiled = (
        spark.read.parquet(f"{idx}/postings")
        .where(F.col("bucket") != md5_token_bucket(F.col("tok"), 64))
        .count()
    )
    assert misfiled == 0
    inverted_index.build_inverted_index(
        local_frame(spark, built + streamed, schema), ref, n_buckets=64
    )

    def served(d):
        return {
            t: [
                (r["doc_id"], r["n_hits"], r["bm25"])
                for r in inverted_index.bm25_search(spark, d, [t]).collect()
            ]
            for t in terms
        }

    want = served(ref)
    assert all({100, 101} & {doc for doc, _, _ in want[t]} for t in terms)
    assert served(idx) == want
    inverted_index.compact_postings(spark, idx)
    assert served(idx) == want


class TestVectorIngest:
    @pytest.fixture(scope="class")
    def vstreamed(self, spark, sf_dir, tmp_path_factory):
        from migrate_cassandra_to_mysql_spark.operators import ivf_index
        from migrate_cassandra_to_mysql_spark.operators.similarity import (
            first_k_cell_centroids,
            first_k_pq_centers,
        )
        from migrate_cassandra_to_mysql_spark.streaming.index_ingest import (
            stream_vectors_into_ivfpq_index,
        )

        root = tmp_path_factory.mktemp("vingest")
        src, ckpt, idx = (str(root / p) for p in ("src", "ckpt", "idx"))
        emb = T(spark, sf_dir, "embeddings")
        cells = first_k_cell_centroids(emb, 4)
        centers = first_k_pq_centers(emb, 4, 4)
        # codebooks frozen by an empty-corpus build; vectors then stream in
        ivf_index.build_ivfpq_index(
            emb.where(F.lit(False)), idx, cells, centers
        )
        batches = []
        for gen in (0, 1, 2):
            emb.where(F.col("vec_id") % 3 == gen).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            batches.append(
                stream_vectors_into_ivfpq_index(spark, src, ckpt, idx)
            )
        return {
            "idx": idx,
            "batches": batches,
            "cells": cells,
            "centers": centers,
        }

    def _queries(self, spark, sf_dir):
        return (
            T(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") % 100 == 0)
            .select(
                F.col("vec_id").alias("q_id"),
                F.col("embedding").cast("array<double>").alias("qv"),
            )
        )

    def test_streamed_equals_single_pass(self, spark, sf_dir, vstreamed, tmp_path):
        from migrate_cassandra_to_mysql_spark.operators import ivf_index

        assert [len(b) for b in vstreamed["batches"]] == [1, 1, 1]
        full = str(tmp_path / "full")
        ivf_index.build_ivfpq_index(
            T(spark, sf_dir, "embeddings"),
            full,
            vstreamed["cells"],
            vstreamed["centers"],
        )
        q = self._queries(spark, sf_dir)
        got = sorted(
            map(
                tuple,
                ivf_index.ivfpq_search(
                    spark, vstreamed["idx"], q, k=3, n_probe=2
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                ivf_index.ivfpq_search(spark, full, q, k=3, n_probe=2).collect(),
            )
        )
        assert got == want

    def test_compact_then_identical(self, spark, sf_dir, vstreamed):
        from migrate_cassandra_to_mysql_spark.operators import ivf_index

        q = self._queries(spark, sf_dir)
        before = sorted(
            map(
                tuple,
                ivf_index.ivfpq_search(
                    spark, vstreamed["idx"], q, k=3, n_probe=2
                ).collect(),
            )
        )
        n_before = len(
            glob.glob(f"{vstreamed['idx']}/codes/cell=*/*/part-*")
        )
        stats = ivf_index.compact_codes(spark, vstreamed["idx"])
        n_after = len(glob.glob(f"{vstreamed['idx']}/codes/cell=*/*/part-*"))
        assert stats["files_in"] == n_before and stats["files_out"] == n_after
        assert n_after < n_before
        after = sorted(
            map(
                tuple,
                ivf_index.ivfpq_search(
                    spark, vstreamed["idx"], q, k=3, n_probe=2
                ).collect(),
            )
        )
        assert before == after


def test_batch_id_offset_upgrade_guard(tmp_path, streamed):
    """The one-time upgrade window of the B -> B+1 batch-id offset
    (ADVICE r8): resuming a checkpoint that has committed batches
    against an index WITHOUT the new-mapping marker means the index was
    streamed under the old mapping — a replayed batch would duplicate
    its old files. The guard raises the migration recipe; fresh indexes
    and marked indexes pass and (re)gain the marker."""
    from migrate_cassandra_to_mysql_spark.streaming.index_ingest import (
        _check_batch_id_offset_upgrade,
    )

    # a real streamed index carries the marker after its drains
    assert glob.glob(f"{streamed['idx']}/_ingest_offset_v2")

    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    # fresh index, no committed batches: passes, writes the marker
    _check_batch_id_offset_upgrade(ckpt, idx)
    import os

    marker = f"{idx}/_ingest_offset_v2"
    assert os.path.exists(marker)
    # committed batches + marker: a normal new-mapping resume, passes
    os.makedirs(f"{ckpt}/commits", exist_ok=True)
    open(f"{ckpt}/commits/0", "w").close()
    _check_batch_id_offset_upgrade(ckpt, idx)
    # committed batches + NO marker: old-mapping index, rejected loudly
    os.unlink(marker)
    with pytest.raises(ValueError, match="pre-offset"):
        _check_batch_id_offset_upgrade(ckpt, idx)
    # non-batch files in commits/ (e.g. .tmp) don't count as commits
    os.unlink(f"{ckpt}/commits/0")
    open(f"{ckpt}/commits/.0.tmp", "w").close()
    _check_batch_id_offset_upgrade(ckpt, idx)
    assert os.path.exists(marker)


def test_upgrade_guard_crashed_before_first_commit(tmp_path):
    """The r9 sliver (VERDICT r9 #1): an old-mapping stream that crashed
    before its FIRST commit leaves offsets written, files at
    ingest_batch=<B>, commits empty. The guard must reject that state
    (replaying B into ingest_batch=B+1 would leave both copies for
    compaction to merge) while a genuinely fresh index with the same
    checkpoint shape still starts clean."""
    import os

    from migrate_cassandra_to_mysql_spark.streaming.index_ingest import (
        _check_batch_id_offset_upgrade,
    )

    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(f"{ckpt}/offsets", exist_ok=True)
    open(f"{ckpt}/offsets/0", "w").close()
    # files the crashed old-mapping batch 0 wrote (layer-level AND
    # bucket-nested layouts)
    os.makedirs(f"{idx}/doclens/ingest_batch=0", exist_ok=True)
    os.makedirs(f"{idx}/postings/bucket=3/ingest_batch=0", exist_ok=True)
    with pytest.raises(ValueError, match="crashed before its first commit"):
        _check_batch_id_offset_upgrade(ckpt, idx)
    assert not os.path.exists(f"{idx}/_ingest_offset_v2")
    # same checkpoint shape, but no stranded partitions: clean start
    fresh = str(tmp_path / "fresh_idx")
    _check_batch_id_offset_upgrade(ckpt, fresh)
    assert os.path.exists(f"{fresh}/_ingest_offset_v2")


def test_upgrade_guard_rejects_unmarked_streamed_index(tmp_path):
    """A fresh checkpoint over an index that already holds
    ingest_batch>=1 partitions but NO marker (ADVICE r9): the index was
    streamed by some other old-mapping checkpoint — minting a marker
    here would enable inheritance and clobbering. ingest_batch=0 alone
    (a plain batch build) stays startable."""
    import os

    from migrate_cassandra_to_mysql_spark.streaming.index_ingest import (
        _check_batch_id_offset_upgrade,
    )

    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(f"{idx}/postings/bucket=0/ingest_batch=0", exist_ok=True)
    os.makedirs(f"{idx}/postings/bucket=0/ingest_batch=2", exist_ok=True)
    with pytest.raises(ValueError, match="no _ingest_offset_v2 marker"):
        _check_batch_id_offset_upgrade(ckpt, idx)
    # batch-build layer only (ingest_batch=0): fine
    idx2 = str(tmp_path / "idx2")
    os.makedirs(f"{idx2}/postings/bucket=0/ingest_batch=0", exist_ok=True)
    _check_batch_id_offset_upgrade(ckpt, idx2)
    assert os.path.exists(f"{idx2}/_ingest_offset_v2")


def test_upgrade_guard_marker_records_checkpoint_identity(tmp_path):
    """The marker is stamped with the checkpoint that earned it (ADVICE
    r9): a DIFFERENT checkpoint with history cannot inherit it; a fresh
    re-stream checkpoint adopts it; a legacy identity-less marker is
    stamped on first resume."""
    import os

    from migrate_cassandra_to_mysql_spark.streaming.index_ingest import (
        _check_batch_id_offset_upgrade,
    )

    idx = str(tmp_path / "idx")
    ckpt_a = str(tmp_path / "ckpt_a")
    ckpt_b = str(tmp_path / "ckpt_b")
    _check_batch_id_offset_upgrade(ckpt_a, idx)
    marker = f"{idx}/_ingest_offset_v2"
    assert os.path.realpath(ckpt_a) in open(marker).read()
    # ckpt_b has old commits: would replay under the new mapping — reject
    os.makedirs(f"{ckpt_b}/commits", exist_ok=True)
    open(f"{ckpt_b}/commits/0", "w").close()
    with pytest.raises(ValueError, match="different checkpoint"):
        _check_batch_id_offset_upgrade(ckpt_b, idx)
    # a FRESH checkpoint (no offsets/commits) adopts the marker
    ckpt_c = str(tmp_path / "ckpt_c")
    _check_batch_id_offset_upgrade(ckpt_c, idx)
    assert os.path.realpath(ckpt_c) in open(marker).read()
    # legacy identity-less marker: stamped by the resuming checkpoint
    with open(marker, "w") as f:
        f.write("ingest_batch = micro-batch id + 1\n")
    _check_batch_id_offset_upgrade(ckpt_b, idx)
    assert os.path.realpath(ckpt_b) in open(marker).read()


def test_upgrade_guard_adoption_is_additive(tmp_path):
    """Adopted checkpoint identities accumulate (r10 ADVICE): after a
    fresh re-stream checkpoint B adopts a marker earned by checkpoint A,
    A — whose batches were ALL written under the new mapping — must
    still be able to resume. Overwrite-stamping used to erase A's
    record, rejecting it with a misleading migration recipe."""
    import os

    from migrate_cassandra_to_mysql_spark.streaming.index_ingest import (
        _check_batch_id_offset_upgrade,
    )

    idx = str(tmp_path / "idx")
    ckpt_a = str(tmp_path / "ckpt_a")
    ckpt_b = str(tmp_path / "ckpt_b")
    marker = f"{idx}/_ingest_offset_v2"

    # A establishes the marker, streams, and commits under the new mapping
    _check_batch_id_offset_upgrade(ckpt_a, idx)
    os.makedirs(f"{ckpt_a}/commits", exist_ok=True)
    os.makedirs(f"{ckpt_a}/offsets", exist_ok=True)
    open(f"{ckpt_a}/commits/0", "w").close()
    open(f"{ckpt_a}/offsets/0", "w").close()
    # fresh checkpoint B legitimately adopts (re-stream)
    _check_batch_id_offset_upgrade(ckpt_b, idx)
    content = open(marker).read()
    assert os.path.realpath(ckpt_a) in content  # A's record survives
    assert os.path.realpath(ckpt_b) in content
    # A resumes: recorded identity, history all new-mapping — passes
    _check_batch_id_offset_upgrade(ckpt_a, idx)
    # a THIRD checkpoint with prior history is still rejected
    ckpt_c = str(tmp_path / "ckpt_c")
    os.makedirs(f"{ckpt_c}/commits", exist_ok=True)
    open(f"{ckpt_c}/commits/0", "w").close()
    with pytest.raises(ValueError, match="different checkpoint"):
        _check_batch_id_offset_upgrade(ckpt_c, idx)


def test_stream_rejects_readd_of_tombstoned_doc(
    spark, sf_dir, tmp_path_factory
):
    """Re-ingesting a DELETED doc_id through the append-only stream is
    rejected loudly (batch append supersedes deletions by purging
    first; a foreachBatch stream cannot safely purge mid-drain, and
    silently masking the re-ingested content — the pre-r10 behavior —
    would discard it at the next compaction). The drain itself commits:
    the non-tombstoned docs of the same batch serve normally, the
    tombstone keeps masking the re-added doc, and a subsequent drain of
    only-new docs is clean."""
    root = tmp_path_factory.mktemp("ingest_readd")
    src, ckpt, idx = (str(root / p) for p in ("src", "ckpt", "idx"))
    docs = T(spark, sf_dir, "documents")

    docs.where(F.col("doc_id") % 3 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert len(stream_docs_into_inverted_index(spark, src, ckpt, idx)) == 1

    victims = [int(x) for x in _search(spark, idx)["doc_id"].head(2)]
    inverted_index.delete_docs(spark, idx, victims)

    # next drain re-adds the victims alongside genuinely new docs
    docs.where(
        (F.col("doc_id") % 3 == 1) | F.col("doc_id").isin(victims)
    ).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(ValueError, match="tombstoned"):
        stream_docs_into_inverted_index(spark, src, ckpt, idx)

    got = _search(spark, idx)
    assert not (set(got["doc_id"]) & set(victims))  # deletion still wins
    # the batch's OTHER docs landed and serve (drain committed)
    assert (
        spark.read.parquet(f"{idx}/doclens")
        .where(F.col("doc_id") % 3 == 1)
        .count()
        > 0
    )

    # a clean follow-up drain (new docs only) passes the probe
    docs.where(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert len(stream_docs_into_inverted_index(spark, src, ckpt, idx)) == 1
