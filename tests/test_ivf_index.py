"""Persisted IVF index: build/load roundtrip, semantics parity with the
inline operator, partition pruning at the corpus scan, n_probe recall."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.operators import ivf_index
from migrate_cassandra_to_mysql_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
)
from migrate_cassandra_to_mysql_spark.sources.parquet import table as T


@pytest.fixture(scope="module")
def index_dir(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    d = tempfile.mkdtemp(prefix="ivf_idx_")
    ivf_index.build_ivf_index(emb, d, ivf_index.first_k_codebook(emb, 4))
    return d


def _queries(spark, sf_dir):
    return (
        T(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )


def test_codebook_roundtrip(spark, index_dir):
    cb = ivf_index.load_codebook(spark, index_dir)
    assert cb.count() == 4
    assert dict(cb.dtypes)["cv"] == "array<double>"


def test_persisted_search_equals_inline_operator(spark, sf_dir, index_dir):
    """Same codebook, same queries: the served (persisted) path must return
    exactly what the inline operator returns."""
    got = sorted(
        (r["q_id"], r["n_id"], r["cell"], r["cos_sim"], r["rnk"])
        for r in ivf_index.ivf_search(
            spark, index_dir, _queries(spark, sf_dir), k=3, n_probe=1
        ).collect()
    )
    want = sorted(
        (r["q_id"], r["n_id"], r["cell"], r["cos_sim"], r["rnk"])
        for r in ivf_topk(
            T(spark, sf_dir, "embeddings"), n_centroids=4, query_mod=100, k=3
        ).collect()
    )
    assert got == want


def test_corpus_scan_is_partition_pruned(spark, sf_dir, index_dir):
    """The cell IN (...) filter must reach the corpus scan as a parquet
    PartitionFilter — unprobed cells' files are never opened."""
    df = ivf_index.ivf_search(spark, index_dir, _queries(spark, sf_dir), k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    corpus_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "corpus" in l
    ]
    assert corpus_scans
    assert all("PartitionFilters: [cell" in l for l in corpus_scans)

    # And the filter semantics hold: a one-query search only ever surfaces
    # candidates from that query's single probed cell.
    one_q = _queries(spark, sf_dir).orderBy("q_id").limit(1)
    rows = ivf_index.ivf_search(spark, index_dir, one_q, k=3).collect()
    assert rows and len({r["cell"] for r in rows}) == 1


def test_trained_codebook_and_nprobe_recall(spark, sf_dir):
    """k-means codebook end-to-end through the persisted index; probing
    more cells can only add candidates (recall is monotone in n_probe)."""
    emb = T(spark, sf_dir, "embeddings")
    d = tempfile.mkdtemp(prefix="ivf_idx_km_")
    cb = ivf_index.kmeans_codebook(emb, k=4, n_iter=2)
    ivf_index.build_ivf_index(emb, d, cb)

    exact = brute_force_topk(emb, F.col("vec_id") % 100 == 0, k=3).collect()
    want = {}
    for r in exact:
        want.setdefault(r["q_id"], set()).add(r["n_id"])

    def recall(n_probe: int) -> float:
        rows = ivf_index.ivf_search(
            spark, d, _queries(spark, sf_dir), k=3, n_probe=n_probe
        ).collect()
        got = {}
        for r in rows:
            got.setdefault(r["q_id"], set()).add(r["n_id"])
        hits = sum(len(got.get(q, set()) & w) for q, w in want.items())
        return hits / sum(len(w) for w in want.values())

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1
    assert r2 >= 0.3, (r1, r2)


@pytest.fixture(scope="module")
def ivfpq_dir(spark, sf_dir):
    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        first_k_cell_centroids,
        first_k_pq_centers,
    )

    emb = T(spark, sf_dir, "embeddings")
    d = tempfile.mkdtemp(prefix="ivfpq_idx_")
    ivf_index.build_ivfpq_index(
        emb, d, first_k_cell_centroids(emb, 4), first_k_pq_centers(emb, 4, 4)
    )
    return d


def test_ivfpq_persisted_equals_inline(spark, sf_dir, ivfpq_dir):
    """Served IVFADC path == inline operator, row for row (same
    codebooks, same queries) — persistence must be semantics-free."""
    from migrate_cassandra_to_mysql_spark.operators.similarity import ivfpq_topk

    got = sorted(
        (r["q_id"], r["n_id"], r["cell"], r["approx_dist"], r["rnk"])
        for r in ivf_index.ivfpq_search(
            spark, ivfpq_dir, _queries(spark, sf_dir), k=3, n_probe=2
        ).collect()
    )
    want = sorted(
        (r["q_id"], r["n_id"], r["cell"], r["approx_dist"], r["rnk"])
        for r in ivfpq_topk(
            T(spark, sf_dir, "embeddings"), query_mod=100, k=3, n_probe=2
        ).collect()
    )
    assert got == want


def test_ivfpq_codes_scan_pruned_and_compressed(spark, sf_dir, ivfpq_dir):
    """The probe filter must reach the codes scan as a parquet
    PartitionFilter, and the scanned rows must carry PQ codes only —
    no vector column anywhere in the served read path (the 64x point
    of the layout)."""
    df = ivf_index.ivfpq_search(
        spark, ivfpq_dir, _queries(spark, sf_dir), k=3, n_probe=2
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    code_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "codes" in l
    ]
    assert code_scans
    assert all("PartitionFilters: [cell" in l for l in code_scans)
    schema = spark.read.parquet(f"{ivfpq_dir}/codes").schema
    assert [
        f.name for f in schema if f.name not in ("cell", "ingest_batch")
    ] == ["vec_id", "codes"]
    # codebooks round-trip exactly
    cells, centers = ivf_index.load_ivfpq_codebooks(spark, ivfpq_dir)
    assert len(cells) == 4 and len(centers) == 4 and len(centers[0]) == 4
    assert len(centers[0][0]) == 16


def test_ivfpq_incremental_append_equals_full_build(spark, sf_dir):
    """Build the index on half the corpus, append the other half: search
    results must equal a single-pass full build row-for-row (encoding
    depends only on the frozen codebooks), and the appended files must
    land inside the existing cell partitions (still pruned)."""
    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        first_k_cell_centroids,
        first_k_pq_centers,
    )

    emb = T(spark, sf_dir, "embeddings")
    cells = first_k_cell_centroids(emb, 4)
    centers = first_k_pq_centers(emb, 4, 4)
    median = emb.count() // 2

    inc_dir = tempfile.mkdtemp(prefix="ivfpq_inc_")
    ivf_index.build_ivfpq_index(
        emb.where(F.col("vec_id") < median), inc_dir, cells, centers
    )
    ivf_index.append_to_ivfpq_index(
        emb.where(F.col("vec_id") >= median), inc_dir
    )

    full_dir = tempfile.mkdtemp(prefix="ivfpq_full_")
    ivf_index.build_ivfpq_index(emb, full_dir, cells, centers)

    q = _queries(spark, sf_dir)
    got = sorted(
        map(tuple, ivf_index.ivfpq_search(spark, inc_dir, q, k=3, n_probe=2).collect())
    )
    want = sorted(
        map(tuple, ivf_index.ivfpq_search(spark, full_dir, q, k=3, n_probe=2).collect())
    )
    assert got == want
    # row count conservation across the append
    n_inc = spark.read.parquet(f"{inc_dir}/codes").count()
    assert n_inc == emb.count()


def test_ivfpq_append_then_compact_lifecycle(spark, sf_dir):
    """Daily-ingest loop: build + 3 appends, then compact_codes. The
    compacted index must answer queries identically to a single-pass
    build (row-for-row), keep cell pruning, and pack each cell back to
    one file (VERDICT r6 ask #5)."""
    import glob

    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        first_k_cell_centroids,
        first_k_pq_centers,
    )

    emb = T(spark, sf_dir, "embeddings")
    cells = first_k_cell_centroids(emb, 4)
    centers = first_k_pq_centers(emb, 4, 4)

    inc_dir = tempfile.mkdtemp(prefix="ivfpq_cmp_")
    ivf_index.build_ivfpq_index(
        emb.where(F.col("vec_id") % 4 == 0), inc_dir, cells, centers
    )
    for gen in (1, 2, 3):
        ivf_index.append_to_ivfpq_index(
            emb.where(F.col("vec_id") % 4 == gen), inc_dir
        )

    def n_files(d):
        return len(glob.glob(f"{d}/codes/cell=*/ingest_batch=*/part-*"))

    before = n_files(inc_dir)
    stats = ivf_index.compact_codes(spark, inc_dir)
    after = n_files(inc_dir)
    assert stats["files_in"] == before and stats["files_out"] == after
    assert after < before
    assert after == stats["partitions"]  # tiny cells -> one file each

    full_dir = tempfile.mkdtemp(prefix="ivfpq_cmpfull_")
    ivf_index.build_ivfpq_index(emb, full_dir, cells, centers)
    q = _queries(spark, sf_dir)
    got = sorted(
        map(tuple, ivf_index.ivfpq_search(spark, inc_dir, q, k=3, n_probe=2).collect())
    )
    want = sorted(
        map(tuple, ivf_index.ivfpq_search(spark, full_dir, q, k=3, n_probe=2).collect())
    )
    assert got == want
    plan = ivf_index.ivfpq_search(
        spark, inc_dir, q, k=3, n_probe=2
    )._jdf.queryExecution().executedPlan().toString()
    code_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "codes" in l
    ]
    assert code_scans and all("PartitionFilters: [cell" in l for l in code_scans)


def test_persisted_residual_index_matches_inline(spark):
    """Residual IVFADC persisted round-trip (r7): build with
    residual=True, the meta/ flag makes search apply residual ADC, and
    results equal the inline residual operator row-for-row; an append to
    a residual index encodes new vectors residually too."""
    from migrate_cassandra_to_mysql_spark.operators.kmeans import (
        train_centroid_vectors,
    )
    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        ivfpq_topk,
        pq_train_centers,
        residual_frame,
    )
    from migrate_cassandra_to_mysql_spark.scale_data import (
        clustered_embeddings,
    )

    emb = clustered_embeddings(spark, n_vectors=600).persist()
    cells = train_centroid_vectors(emb, k=8, n_iter=2)
    centers = pq_train_centers(
        residual_frame(emb, cells), m=8, n_centers=16, n_iter=1
    )
    d = tempfile.mkdtemp(prefix="ivfpq_res_")
    ivf_index.build_ivfpq_index(
        emb.where(F.col("vec_id") < 500), d, cells, centers, residual=True
    )
    assert ivf_index.load_ivfpq_residual_flag(spark, d) is True
    ivf_index.append_to_ivfpq_index(emb.where(F.col("vec_id") >= 500), d)

    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    got = sorted(
        map(
            tuple,
            ivf_index.ivfpq_search(spark, d, q, k=3, n_probe=2).collect(),
        )
    )
    want = sorted(
        (r["q_id"], r["n_id"], r["cell"], r["approx_dist"], r["rnk"])
        for r in ivfpq_topk(
            emb,
            n_cells=8,
            m=8,
            n_centers=16,
            query_mod=100,
            k=3,
            n_probe=2,
            cell_centroids=cells,
            centers=centers,
            residual=True,
        ).collect()
    )
    assert got == want
    emb.unpersist()


def test_persisted_rerank_equals_inline_composition(spark, sf_dir, ivfpq_dir):
    """Served shortlist+re-rank == the inline ivfpq_rerank_topk operator
    row for row (same codebooks, same queries, same shortlist) — the
    full serving composition must be persistence-free in semantics."""
    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        ivfpq_rerank_topk,
    )

    emb = T(spark, sf_dir, "embeddings")
    got = sorted(
        (r["q_id"], r["n_id"], r["cos_sim"], r["rnk"])
        for r in ivf_index.ivfpq_search_rerank(
            spark,
            ivfpq_dir,
            _queries(spark, sf_dir),
            corpus=emb,
            k=3,
            n_probe=2,
            shortlist=20,
        ).collect()
    )
    want = sorted(
        (r["q_id"], r["n_id"], r["cos_sim"], r["rnk"])
        for r in ivfpq_rerank_topk(
            emb, query_mod=100, k=3, n_probe=2, shortlist=20
        ).collect()
    )
    assert got == want


def test_default_build_is_deterministic(spark, sf_dir, tmp_path):
    """Two serving-default builds (trained codebooks) over the same
    corpus must persist IDENTICAL cells, PQ codebooks, codes, and meta —
    the train-once layout must be reproducible for idempotent replays
    and cross-environment parity (quantized-exact k-means means no
    float-order nondeterminism)."""
    emb = T(spark, sf_dir, "embeddings")
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    ivf_index.build_ivfpq_index(emb, d1, n_cells=4, m=4, n_centers=4)
    ivf_index.build_ivfpq_index(emb, d2, n_cells=4, m=4, n_centers=4)
    assert ivf_index.load_ivfpq_codebooks(
        spark, d1
    ) == ivf_index.load_ivfpq_codebooks(spark, d2)
    assert ivf_index.load_ivfpq_residual_flag(spark, d1) is True
    assert ivf_index.load_ivfpq_residual_flag(
        spark, d1
    ) == ivf_index.load_ivfpq_residual_flag(spark, d2)
    a = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{d1}/codes").collect()
    )
    b = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{d2}/codes").collect()
    )
    assert a == b


def test_delete_vectors_tombstone_then_purge(spark, sf_dir):
    """Tombstone deletion lifecycle: delete_vectors makes vectors
    invisible to search IMMEDIATELY (manifest-committed tombstones,
    physical codes untouched); results equal an index rebuilt without
    them under the same frozen codebooks; compact_codes then physically
    purges the rows and resets the tombstone layer — results unchanged,
    no victim row left on disk."""
    import glob

    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        first_k_cell_centroids,
        first_k_pq_centers,
    )

    emb = T(spark, sf_dir, "embeddings")
    cells = first_k_cell_centroids(emb, 4)
    centers = first_k_pq_centers(emb, 4, 4)
    q = _queries(spark, sf_dir)

    d = tempfile.mkdtemp(prefix="ivfpq_del_")
    ivf_index.build_ivfpq_index(emb, d, cells, centers)
    before = ivf_index.ivfpq_search(spark, d, q, k=3, n_probe=2).collect()
    victims = sorted({r["n_id"] for r in before})[:3]
    assert victims

    ivf_index.delete_vectors(spark, d, victims)
    got = sorted(
        map(
            tuple,
            ivf_index.ivfpq_search(spark, d, q, k=3, n_probe=2).collect(),
        )
    )
    assert not any(
        r[1] in set(victims) for r in got
    ), "tombstoned vector served"

    ref_dir = tempfile.mkdtemp(prefix="ivfpq_del_ref_")
    ivf_index.build_ivfpq_index(
        emb.where(~F.col("vec_id").isin(victims)), ref_dir, cells, centers
    )
    want = sorted(
        map(
            tuple,
            ivf_index.ivfpq_search(
                spark, ref_dir, q, k=3, n_probe=2
            ).collect(),
        )
    )
    assert got == want

    # physical purge
    stats = ivf_index.compact_codes(spark, d)
    assert stats["files_out"] >= 1
    after = sorted(
        map(
            tuple,
            ivf_index.ivfpq_search(spark, d, q, k=3, n_probe=2).collect(),
        )
    )
    assert after == want
    # tombstones reset; victims gone from the codes layer itself
    assert spark.read.parquet(f"{d}/deletes").count() == 0
    on_disk = {
        r["vec_id"] for r in spark.read.parquet(f"{d}/codes").collect()
    }
    assert not (on_disk & set(victims))
    # a batch that was never compacted keeps only ingest_batch=0
    assert glob.glob(f"{d}/codes/cell=*/ingest_batch=0")


def test_readd_after_delete_supersedes(spark, sf_dir, tmp_path_factory):
    """Vector twin of the inverted-index re-add test: appending a
    tombstoned vec_id supersedes the deletion (append_to_ivfpq_index
    runs the owed physical purge first via compact_codes), so search
    results equal the never-deleted index and exactly one physical code
    row remains per re-added vector."""
    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        first_k_cell_centroids,
        first_k_pq_centers,
    )

    emb = T(spark, sf_dir, "embeddings")
    cells = first_k_cell_centroids(emb, 4)
    centers = first_k_pq_centers(emb, 4, 4)
    q = _queries(spark, sf_dir)
    d = str(tmp_path_factory.mktemp("ivfpq_readd"))
    ivf_index.build_ivfpq_index(emb, d, cells, centers)

    def serve():
        return sorted(
            map(
                tuple,
                ivf_index.ivfpq_search(
                    spark, d, q, k=3, n_probe=2
                ).collect(),
            )
        )

    want = serve()
    victims = sorted({r[1] for r in want})[:3]
    assert victims
    ivf_index.delete_vectors(spark, d, victims)
    assert not any(r[1] in set(victims) for r in serve())

    ivf_index.append_to_ivfpq_index(
        emb.where(F.col("vec_id").isin(victims)), d
    )
    assert serve() == want
    counts = (
        spark.read.parquet(f"{d}/codes")
        .where(F.col("vec_id").isin(victims))
        .groupBy("vec_id")
        .count()
        .collect()
    )
    assert len(counts) == len(victims)
    assert all(r["count"] == 1 for r in counts)
    assert spark.read.parquet(f"{d}/deletes").count() == 0


def test_filtered_search_equals_rank_all_then_filter(spark, sf_dir, ivfpq_dir):
    """ivfpq_search(allowed=...) pre-filters the probed candidates
    before ADC ranking; since per-pair scores are independent, the
    filtered top-k must equal ranking ALL probed candidates, dropping
    disallowed ids, and re-cutting to k."""
    import pandas as pd

    emb = T(spark, sf_dir, "embeddings")
    q = _queries(spark, sf_dir)
    allowed = emb.where(F.col("label") % 3 == 0).select("vec_id")
    got = ivf_index.ivfpq_search(
        spark, ivfpq_dir, q, k=5, n_probe=2, allowed=allowed
    ).toPandas()
    # rank everything the probes admit (k = corpus size bounds the
    # candidate set), then filter and re-cut per query
    k_all = int(emb.count())
    full = ivf_index.ivfpq_search(
        spark, ivfpq_dir, q, k=k_all, n_probe=2
    ).toPandas()
    ok = {r["vec_id"] for r in allowed.collect()}
    want = (
        full[full["n_id"].isin(ok)]
        .sort_values(["q_id", "approx_dist", "n_id"])
        .groupby("q_id")
        .head(5)
    )
    got_s = got.sort_values(["q_id", "rnk"]).reset_index(drop=True)
    want_s = want.reset_index(drop=True)
    assert list(got_s["q_id"]) == list(want_s["q_id"])
    assert list(got_s["n_id"]) == list(want_s["n_id"])
    pd.testing.assert_series_equal(
        got_s["approx_dist"], want_s["approx_dist"], check_names=False
    )
    # the filter actually bit somewhere in the unfiltered top-5
    top5 = full[full["rnk"] <= 5]
    assert not set(top5["n_id"]).issubset(ok)


def test_filtered_rerank_yields_k_under_selective_filter(
    spark, sf_dir, ivfpq_dir
):
    """PRE-filtering keeps recall under selective filters: with an
    allowed set of just a few ids, every query still fills its top-k
    from admitted candidates (post-filtering a fixed-20 shortlist would
    often return none), every returned id is allowed, and exact-cosine
    rerank order holds per query."""
    emb = T(spark, sf_dir, "embeddings")
    q = _queries(spark, sf_dir).limit(3)
    # a deliberately tiny slice, disjoint from the query ids
    allowed = (
        emb.where((F.col("vec_id") % 100 != 0) & (F.col("vec_id") < 40))
        .select("vec_id")
    )
    ok = {r["vec_id"] for r in allowed.collect()}
    assert 0 < len(ok) < 45
    got = ivf_index.ivfpq_search_rerank(
        spark, ivfpq_dir, q, corpus=emb, k=3, n_probe=2,
        shortlist=20, allowed=allowed,
    ).toPandas()
    assert set(got["n_id"]).issubset(ok)
    per_q = got.groupby("q_id").size()
    assert (per_q == 3).all(), per_q
    for _, g in got.sort_values(["q_id", "rnk"]).groupby("q_id"):
        sims = list(g["cos_sim"])
        assert sims == sorted(sims, reverse=True)


def test_merge_shards_equals_single_build(spark, sf_dir, tmp_path_factory):
    """Vector shard consolidation: two half-corpus shards encoded with
    SHARED codebooks, merged == one single-pass build over the full
    corpus (codes move verbatim — a vector's (cell, codes) is a pure
    function of the frozen codebooks)."""
    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        first_k_cell_centroids,
        first_k_pq_centers,
    )

    emb = T(spark, sf_dir, "embeddings")
    cells = first_k_cell_centroids(emb, 4)
    centers = first_k_pq_centers(emb, 4, 4)
    a = str(tmp_path_factory.mktemp("vshard_a"))
    b = str(tmp_path_factory.mktemp("vshard_b"))
    m = str(tmp_path_factory.mktemp("vmerged"))
    ref = str(tmp_path_factory.mktemp("vsingle"))
    ivf_index.build_ivfpq_index(
        emb.where(F.col("vec_id") % 2 == 0), a, cells, centers
    )
    ivf_index.build_ivfpq_index(
        emb.where(F.col("vec_id") % 2 == 1), b, cells, centers
    )
    ivf_index.build_ivfpq_index(emb, ref, cells, centers)
    stats = ivf_index.merge_indexes(spark, [a, b], m)
    assert stats["cells"] > 0
    q = _queries(spark, sf_dir)
    got = ivf_index.ivfpq_search(spark, m, q, k=5, n_probe=2).toPandas()
    want = ivf_index.ivfpq_search(spark, ref, q, k=5, n_probe=2).toPandas()
    for col in ("q_id", "n_id", "approx_dist", "rnk"):
        assert list(got[col]) == list(want[col]), col


def test_merge_purges_vec_tombstones(spark, sf_dir, tmp_path_factory):
    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        first_k_cell_centroids,
        first_k_pq_centers,
    )

    emb = T(spark, sf_dir, "embeddings")
    cells = first_k_cell_centroids(emb, 4)
    centers = first_k_pq_centers(emb, 4, 4)
    a = str(tmp_path_factory.mktemp("vshard_a"))
    b = str(tmp_path_factory.mktemp("vshard_b"))
    m = str(tmp_path_factory.mktemp("vmerged"))
    even = emb.where(F.col("vec_id") % 2 == 0)
    ivf_index.build_ivfpq_index(even, a, cells, centers)
    ivf_index.build_ivfpq_index(
        emb.where(F.col("vec_id") % 2 == 1), b, cells, centers
    )
    victims = [
        int(r["vec_id"]) for r in even.select("vec_id").limit(3).collect()
    ]
    ivf_index.delete_vectors(spark, a, victims)
    ivf_index.merge_indexes(spark, [a, b], m)
    assert (
        spark.read.parquet(f"{m}/codes")
        .where(F.col("vec_id").isin(victims))
        .count()
        == 0
    )


def test_merge_rejects_codebook_mismatch(spark, sf_dir, tmp_path_factory):
    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        first_k_cell_centroids,
        first_k_pq_centers,
    )

    emb = T(spark, sf_dir, "embeddings")
    a = str(tmp_path_factory.mktemp("vshard_a"))
    b = str(tmp_path_factory.mktemp("vshard_b"))
    ivf_index.build_ivfpq_index(
        emb.where(F.col("vec_id") % 2 == 0),
        a,
        first_k_cell_centroids(emb, 4),
        first_k_pq_centers(emb, 4, 4),
    )
    # a DIFFERENT coarse codebook (first 2 cells) on the other shard
    ivf_index.build_ivfpq_index(
        emb.where(F.col("vec_id") % 2 == 1),
        b,
        first_k_cell_centroids(emb, 2),
        first_k_pq_centers(emb, 4, 4),
    )
    with pytest.raises(ValueError, match="different codebooks"):
        ivf_index.merge_indexes(
            spark, [a, b], str(tmp_path_factory.mktemp("vmerged"))
        )


# ---------------------------------------------------------------------------
# Frozen reference for ADC scoring and residual encoding: the
# per-candidate form (every candidate re-folds all m x n_centers
# sub-distances against the literal codebook, and in residual mode every
# fold re-derives the residual). Self-contained on purpose — the inline
# and persisted paths share their expression helpers, so a regression in
# those helpers moves both sides of the inline == persisted tests alike;
# it cannot move this copy.
# ---------------------------------------------------------------------------


def _ref_vec(values) -> str:
    return "array(" + ", ".join(f"{float(x)!r}D" for x in values) + ")"


def _ref_sqdist(col_expr: str, center: list) -> str:
    return (
        f"round(aggregate(zip_with({col_expr}, {_ref_vec(center)},"
        f" (a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x), 6)"
    )


def _ref_residual(vec_col: str, cell_col: str, cells: list) -> str:
    table = "array(" + ", ".join(_ref_vec(cv) for cv in cells) + ")"
    return (
        f"zip_with({vec_col}, element_at({table}, cast({cell_col} AS int)"
        f" + 1), (x, y) -> x - y)"
    )


def _ref_codes(centers: list, vec_sql: str):
    sub = len(centers[0][0])
    cols = []
    for mi, sub_centers in enumerate(centers):
        sv = f"slice({vec_sql}, {mi * sub + 1}, {sub})"
        structs = ", ".join(
            f"named_struct('d', {_ref_sqdist(sv, c)}, 'j', {j})"
            for j, c in enumerate(sub_centers)
        )
        cols.append(F.expr(f"cast(array_min(array({structs})).j AS int)"))
    return F.array(*cols)


def _ref_adc(centers: list, qv_sql: str):
    sub = len(centers[0][0])
    terms = []
    for mi, sub_centers in enumerate(centers):
        qsv = f"slice({qv_sql}, {mi * sub + 1}, {sub})"
        dists = ", ".join(_ref_sqdist(qsv, c) for c in sub_centers)
        terms.append(f"element_at(array({dists}), codes[{mi}] + 1)")
    return F.expr(f"round({' + '.join(terms)}, 6)")


def _ref_topk(q, codes, centers, k, cells=None, residual=False):
    """(q_id, n_id, approx_dist, rnk) by the frozen per-candidate ADC.
    `q` is (q_id, qv[, q_cell]); with q_cell the join is on the cell."""
    from pyspark.sql import Window

    qv_sql = _ref_residual("qv", "q_cell", cells) if residual else "qv"
    cond = F.col("vec_id") != F.col("q_id")
    if "q_cell" in q.columns:
        cond = (F.col("cell") == F.col("q_cell")) & cond
    cand = F.broadcast(q).join(codes, cond).select(
        "q_id",
        F.col("vec_id").alias("n_id"),
        _ref_adc(centers, qv_sql).alias("approx_dist"),
    )
    w = Window.partitionBy("q_id").orderBy("approx_dist", "n_id")
    return cand.withColumn("rnk", F.row_number().over(w).cast("long")).where(
        F.col("rnk") <= k
    )


def _rows(df):
    return sorted(
        (r["q_id"], r["n_id"], r["approx_dist"], r["rnk"])
        for r in df.select("q_id", "n_id", "approx_dist", "rnk").collect()
    )


@pytest.fixture(scope="module")
def frozen_setup(spark, sf_dir):
    """First-K codebooks (4 cells, m=4 x 4 centers) plus one raw and one
    residual persisted index built with them."""
    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        first_k_cell_centroids,
        first_k_pq_centers,
    )

    emb = T(spark, sf_dir, "embeddings")
    cells = first_k_cell_centroids(emb, 4)
    centers = first_k_pq_centers(emb, 4, 4)
    dirs = {}
    for residual in (False, True):
        d = tempfile.mkdtemp(prefix=f"ivfpq_frozen_{int(residual)}_")
        ivf_index.build_ivfpq_index(emb, d, cells, centers, residual=residual)
        dirs[residual] = d
    return emb, cells, centers, dirs


def test_residual_encode_equals_frozen_reference(spark, frozen_setup):
    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        ivfpq_encode,
        ranked_cells_expr,
    )

    emb, cells, centers, _ = frozen_setup
    with_cell = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("cell", ranked_cells_expr("v", cells)[0]["c"].cast("long"))
    want = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in with_cell.select(
            "vec_id",
            "cell",
            _ref_codes(centers, _ref_residual("v", "cell", cells)).alias(
                "codes"
            ),
        ).collect()
    )
    got = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in ivfpq_encode(emb, cells, centers, residual=True).collect()
    )
    assert got == want
    # the comparison is only meaningful if residual codes actually vary
    assert len({codes for _, _, codes in got}) > 10


@pytest.mark.parametrize("residual", [False, True])
def test_adc_scoring_equals_frozen_reference(
    spark, sf_dir, frozen_setup, residual
):
    """ivfpq_search, ivfpq_topk and pq_topk return exactly the rows the
    per-candidate ADC form returns over the same codes."""
    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_topk,
        pq_topk,
        ranked_cells_expr,
    )

    emb, cells, centers, dirs = frozen_setup
    q = _queries(spark, sf_dir)
    q_cells = q.select(
        "q_id",
        "qv",
        F.explode(
            F.slice(
                F.transform(
                    ranked_cells_expr("qv", cells), lambda x: x["c"].cast("long")
                ),
                1,
                2,
            )
        ).alias("q_cell"),
    )
    codes = ivfpq_encode(emb, cells, centers, residual=residual)
    want = _rows(_ref_topk(q_cells, codes, centers, 5, cells, residual))
    assert len(want) == 5 * q.count()
    served = ivf_index.ivfpq_search(
        spark, dirs[residual], q, k=5, n_probe=2
    )
    assert _rows(served) == want
    inline = ivfpq_topk(
        emb, query_mod=100, k=5, n_probe=2, cell_centroids=cells,
        centers=centers, residual=residual,
    )
    assert _rows(inline) == want
    if not residual:
        flat_codes = emb.select(
            "vec_id",
            _ref_codes(
                centers, "cast(embedding AS array<double>)"
            ).alias("codes"),
        )
        assert _rows(pq_topk(emb, query_mod=100, k=5, centers=centers)) == (
            _rows(_ref_topk(q, flat_codes, centers, 5))
        )


def test_adc_plan_scores_by_table_lookup(spark, sf_dir, frozen_setup):
    """Structural guard. The candidate-side approx_dist is m element_at
    lookups into the per-query table — no sqdist fold (zip_with /
    aggregate) runs per candidate. The residual encode projects the
    residual once: the cell-centroid lookup appears once in the plan,
    not once per (subspace, center) fold."""
    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        ivfpq_encode,
    )

    emb, cells, centers, dirs = frozen_setup
    df = ivf_index.ivfpq_search(
        spark, dirs[True], _queries(spark, sf_dir), k=3, n_probe=2
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    [scoring] = [l for l in plan.splitlines() if " AS approx_dist#" in l]
    assert "zip_with" not in scoring and "aggregate(" not in scoring
    assert scoring.count("element_at(element_at(lut") == len(centers)

    enc = ivfpq_encode(emb, cells, centers, residual=True)
    plan = enc._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("element_at(") == 1
