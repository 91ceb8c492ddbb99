"""Spark jobs per request on the persisted indexes' serving paths. With
the query on the driver, planning a BM25 or ANN request reads only
metadata (declared layer schemas, a driver-side IVFADC query side, the
tombstone layer's footer row counts), so the first Spark job is the
caller's action; and an index whose compaction emptied its tombstone
layer serves exactly like one that never saw a delete."""

from __future__ import annotations

from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions.localframe import local_frame
from migrate_cassandra_to_mysql_spark.operators import inverted_index, ivf_index
from migrate_cassandra_to_mysql_spark.operators.similarity import (
    first_k_cell_centroids,
    first_k_pq_centers,
)
from migrate_cassandra_to_mysql_spark.plans.textplans import _BM25_TERMS
from migrate_cassandra_to_mysql_spark.sources.parquet import table as T


def _jobs(spark, group, fn):
    """(result, Spark jobs fn ran in this thread), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _queries(spark, emb):
    rows = emb.where(F.col("vec_id") % 100 == 0).collect()
    return local_frame(
        spark,
        [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in rows],
        "q_id long, qv array<double>",
    )


def _ivfpq(spark, emb, d):
    ivf_index.build_ivfpq_index(
        emb, d, first_k_cell_centroids(emb, 4), first_k_pq_centers(emb, 4, 4)
    )
    # the frozen codebooks are cached per process after the first load
    ivf_index.load_ivfpq_codebooks(spark, d)
    ivf_index.load_ivfpq_residual_flag(spark, d)


def test_search_plans_run_no_spark_job(spark, sf_dir, tmp_path):
    docs = T(spark, sf_dir, "documents")
    emb = T(spark, sf_dir, "embeddings")
    inv, ivf = str(tmp_path / "inv"), str(tmp_path / "ivf")
    inverted_index.build_inverted_index(docs, inv)
    _ivfpq(spark, emb, ivf)
    q = _queries(spark, emb)

    bm25, n_bm25 = _jobs(
        spark,
        "serving.bm25_plan",
        lambda: inverted_index.bm25_search(spark, inv, _BM25_TERMS, k=10),
    )
    ann, n_ann = _jobs(
        spark,
        "serving.ann_plan",
        lambda: ivf_index.ivfpq_search_rerank(spark, ivf, q, emb, k=3),
    )
    assert (n_bm25, n_ann) == (0, 0)
    assert bm25.collect() and ann.collect()


def test_emptied_tombstones_cost_serving_nothing(spark, sf_dir, tmp_path):
    """delete → compact leaves every search with the jobs of an index
    that never saw a delete, and the same answers."""
    docs = T(spark, sf_dir, "documents")
    emb = T(spark, sf_dir, "embeddings")
    q = _queries(spark, emb)
    kept = docs.where(F.col("doc_id") % 7 != 0)
    kept_v = emb.where((F.col("vec_id") % 7 != 0) | (F.col("vec_id") < 4))
    doomed = [r["doc_id"] for r in docs.where(F.col("doc_id") % 7 == 0).collect()]
    doomed_v = [
        r["vec_id"]
        for r in emb.where((F.col("vec_id") % 7 == 0) & (F.col("vec_id") >= 4))
        .collect()
    ]
    clean, churned = str(tmp_path / "clean"), str(tmp_path / "churned")
    vclean, vchurned = str(tmp_path / "vclean"), str(tmp_path / "vchurned")
    inverted_index.build_inverted_index(kept, clean)
    inverted_index.build_inverted_index(docs, churned)
    inverted_index.delete_docs(spark, churned, doomed)
    inverted_index.compact_postings(spark, churned)
    cells, centers = first_k_cell_centroids(emb, 4), first_k_pq_centers(emb, 4, 4)
    ivf_index.build_ivfpq_index(kept_v, vclean, cells, centers)
    ivf_index.build_ivfpq_index(emb, vchurned, cells, centers)
    ivf_index.delete_vectors(spark, vchurned, doomed_v)
    ivf_index.compact_codes(spark, vchurned)
    for d in (vclean, vchurned):
        ivf_index.load_ivfpq_codebooks(spark, d)
        ivf_index.load_ivfpq_residual_flag(spark, d)

    def serve(tag, d, vd):
        bm25, n_bm25 = _jobs(
            spark,
            f"serving.{tag}.bm25",
            lambda: inverted_index.bm25_search(
                spark, d, _BM25_TERMS, k=10
            ).collect(),
        )
        ann, n_ann = _jobs(
            spark,
            f"serving.{tag}.ann",
            lambda: ivf_index.ivfpq_search(spark, vd, q, k=3).collect(),
        )
        return (n_bm25, n_ann), (sorted(bm25), sorted(ann))

    clean_jobs, clean_rows = serve("clean", clean, vclean)
    churned_jobs, churned_rows = serve("churned", churned, vchurned)
    assert churned_jobs == clean_jobs
    assert churned_rows == clean_rows
