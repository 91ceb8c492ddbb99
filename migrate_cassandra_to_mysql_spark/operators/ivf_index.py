"""Persisted IVF index: train once, lay the corpus out by cell, prune at
query time.

operators/similarity.ivf_topk computes cell assignment inline on every
query — right for a one-shot, wrong for a served corpus. At the 100 TB
design point the index is built ONCE (codebook fit + cell assignment +
corpus rewrite partitioned by cell) and each query then reads only its
probe cells: the cell filter collapses to parquet PartitionFilters, so a
1000-executor query touches n_probe/k of the data instead of all of it.
This mirrors the reference's token-range layout discipline (contiguous
ranges = prunable scan units, snapshot_use_pyspark.py:107-137) applied
to vector search.

Layout under index_dir:
  codebook/            k rows (c_id, cv) — the trained centroids
  corpus/cell=N/...    full vectors, hive-partitioned by nearest centroid

The codebook is pluggable: first-k (deterministic, SQL-oracle-able) or a
k-means fit from operators/kmeans.py (farthest-point init + Lloyd
iterations, still deterministic).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions.vectors import cosine
from migrate_cassandra_to_mysql_spark.functions.localframe import local_frame
from migrate_cassandra_to_mysql_spark.operators import kmeans as km
from migrate_cassandra_to_mysql_spark.operators import tombstones
from migrate_cassandra_to_mysql_spark.operators.layout import read_parquet_retry

# The index's mutable data layers (cells/pq/meta are frozen at build).
LAYERS = ("codes",)

# The IVFADC layers' schemas, partition columns last. Every read passes
# its layer's schema: inferring it from parquet footers costs a Spark job
# per read (tests/test_index_schemas.py pins these against what build,
# append, ingest, compaction and merge write).
SCHEMAS = {
    "codes": "vec_id bigint, codes array<int>, cell int, ingest_batch int",
    "cells": "c_id bigint, cv array<double>",
    "pq": "mi int, j int, cv array<double>",
    "meta": "residual boolean",
}


def _base(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _nearest_cells(vectors: DataFrame, codebook: DataFrame, n: int) -> DataFrame:
    """Top-n nearest centroids per vector (cosine, 6-dp rounded, tie on
    c_id) — broadcast cross join + window rank, map-side per input row."""
    scored = vectors.crossJoin(F.broadcast(codebook)).select(
        vectors["*"],
        "c_id",
        F.round(cosine(F.col("v"), F.col("cv")), 6).alias("c_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), F.asc("c_id"))
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .where(F.col("probe_rank") <= n)
        .drop("c_sim")
    )


def first_k_codebook(embeddings: DataFrame, k: int) -> DataFrame:
    """Deterministic stand-in codebook: the k lowest-vec_id vectors."""
    return _base(embeddings).where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv")
    )


def kmeans_codebook(
    embeddings: DataFrame, k: int, n_iter: int = 3, init: str = "farthest-point"
) -> DataFrame:
    """Trained codebook: k-means fit (see operators/kmeans.py). Centroid
    ids are re-numbered 0..k-1 in vec_id order of the init points so cell
    directory names are stable and dense."""
    return local_frame(
        embeddings.sparkSession,
        list(enumerate(km.train_centroid_vectors(embeddings, k, n_iter, init))),
        "c_id long, cv array<double>",
    )


def build_ivf_index(
    embeddings: DataFrame, index_dir: str, codebook: DataFrame
) -> None:
    """Assign every vector to its nearest centroid and persist:
    codebook/ (k rows) + corpus/ hive-partitioned by cell. The corpus
    write is one shuffle-free map stage plus the partitioned write."""
    assigned = _nearest_cells(_base(embeddings), codebook, 1).select(
        "vec_id", "v", F.col("c_id").alias("cell")
    )
    codebook.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/codebook")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_dir}/corpus"
    )


def load_codebook(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(f"{index_dir}/codebook")


def build_ivfpq_index(
    embeddings: DataFrame,
    index_dir: str,
    cell_centroids: list | None = None,
    centers: list | None = None,
    residual: bool | None = None,
    n_cells: int = 8,
    m: int = 8,
    n_centers: int = 16,
    n_iter: int = 2,
) -> None:
    """Persist the IVFADC layout — the production 100 TB vector-serving
    shape (Jégou et al. 2011 §IV composed with the token-range layout
    discipline above): PQ CODES hive-partitioned by IVF cell, plus both
    codebooks. Unlike build_ivf_index's corpus/ (full vectors), codes/
    carries m small ints per vector — 64× less IO per probed cell — and
    the cell partitioning still collapses probe filters to parquet
    PartitionFilters. The encode (operators/similarity.ivfpq_encode) is
    the same map-side expression chain the inline oracle-checked search
    uses, so on-disk codes are bit-identical to the inline path's.

    Layout under index_dir:
      cells/           n_cells rows (c_id, cv) — IVF coarse centroids
      pq/              m*n_centers rows (mi, j, cv) — PQ sub-codebooks
      codes/cell=N/ingest_batch=B/... (vec_id, codes array<int>) — batch
                       build/append write B=0; streaming micro-batch B
                       writes B+1 (uniform leaf depth across all writers)
      meta/            1 row (residual) — the encoding mode, persisted so
                       append and search can never diverge from the build

    SERVING DEFAULT (codebooks omitted): TRAINED, RESIDUAL codebooks —
    k-means IVF cells (kmeans.train_centroid_vectors) plus a PQ codebook
    trained on the residual corpus (similarity.residual_frame +
    pq_train_centers), residual encoding on. On the clustered recall
    fixture this is the measured ladder's top rung (recall@5 0.55 vs
    0.37 raw-trained vs 0.28 first-K; 0.94 with exact re-rank —
    tests/test_ann_recall.py). First-K codebooks remain available by
    passing them explicitly — the catalog rows do, for DuckDB oracle
    replayability — and explicit-codebook builds keep residual=False
    unless asked, exactly as before.

    residual=True stores residual codes (x - centroid[cell], the
    IVFADC-proper form — pair with a residual-trained PQ codebook from
    similarity.residual_frame + pq_train_centers); the flag rides in
    meta/ and every later append/search applies the matching encoding
    automatically. residual=None resolves to True when this build trains
    its own PQ codebook and False for caller-supplied codebooks.
    """
    from migrate_cassandra_to_mysql_spark.operators import similarity as sim

    spark = embeddings.sparkSession
    if cell_centroids is None:
        cell_centroids = km.train_centroid_vectors(
            embeddings, k=n_cells, n_iter=max(n_iter, 2)
        )
    if centers is None:
        if residual is None:
            residual = True
        # residual_frame carries a label column for training provenance;
        # a serving corpus without one gets a constant stand-in.
        emb_l = (
            embeddings
            if "label" in embeddings.columns
            else embeddings.withColumn("label", F.lit(0))
        )
        train_input = (
            sim.residual_frame(emb_l, cell_centroids) if residual else emb_l
        )
        centers = sim.pq_train_centers(
            train_input, m=m, n_centers=n_centers, n_iter=n_iter
        )
    residual = bool(residual)
    local_frame(
        spark,
        [(i, list(cv)) for i, cv in enumerate(cell_centroids)],
        "c_id long, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/cells")
    local_frame(
        spark,
        [
            (mi, j, list(centers[mi][j]))
            for mi in range(len(centers))
            for j in range(len(centers[0]))
        ],
        "mi int, j int, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/pq")
    local_frame(
        spark, [(bool(residual),)], "residual boolean"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/meta")
    # ingest_batch=0 keeps the batch layer at the SAME leaf depth as
    # streamed micro-batches (streaming/index_ingest.py writes batch B
    # under ingest_batch=B+1) — mixed depths fail partition discovery.
    # Written to .new and promoted, so codes/ is a versioned symlink from
    # the first build and a later compact_codes flips the pointer instead
    # of renaming a real dir out from under an in-flight reader
    # (cells/pq/meta are frozen after build — never swapped — so they
    # stay plain dirs).
    from migrate_cassandra_to_mysql_spark.operators.layout import (
        swap_live_dir,
    )

    (
        sim.ivfpq_encode(embeddings, cell_centroids, centers, residual=residual)
        .withColumn("ingest_batch", F.lit(0))
        .write.mode("overwrite")
        .partitionBy("cell", "ingest_batch")
        .parquet(f"{index_dir}/codes.new")
    )
    swap_live_dir(index_dir, "codes")
    from migrate_cassandra_to_mysql_spark.operators.layout import (
        commit_live_snapshot,
    )

    commit_live_snapshot(index_dir, LAYERS)


def append_to_ivfpq_index(
    embeddings_new: DataFrame, index_dir: str
) -> None:
    """Incremental IVFADC maintenance: encode NEW vectors with the
    index's stored codebooks and append their codes to the existing
    cell partitions — no rebuild, no touch of existing files. Because
    each vector's (cell, codes) depends only on the frozen codebooks,
    an index built in N appends is file-for-file equivalent in content
    to one built in a single pass (pinned by test). At 100 TB this is
    the daily-ingest path: cost is O(new vectors), not O(corpus); cells
    whose distribution drifts get re-encoded individually (rewrite one
    cell=N directory), never the whole index."""
    from migrate_cassandra_to_mysql_spark.operators import similarity as sim
    from migrate_cassandra_to_mysql_spark.operators.layout import (
        ensure_live_dir,
    )

    spark = embeddings_new.sparkSession
    # Re-adding a TOMBSTONED vec_id supersedes the deletion; the old
    # code rows must be physically gone before the new copy lands, so
    # run the owed purge (compact_codes — which also resets the layer)
    # first. See append_to_inverted_index for the rationale.
    if tombstones.hits(spark, index_dir, embeddings_new, "vec_id"):
        compact_codes(spark, index_dir)
    cell_centroids, centers = load_ivfpq_codebooks(spark, index_dir)
    (
        sim.ivfpq_encode(
            embeddings_new,
            cell_centroids,
            centers,
            residual=load_ivfpq_residual_flag(spark, index_dir),
        )
        .withColumn("ingest_batch", F.lit(0))
        .write.mode("append")
        .partitionBy("cell", "ingest_batch")
        # INTO the current live version dir (files only ever appear under
        # a pinned version; see append_to_inverted_index).
        .parquet(ensure_live_dir(index_dir, "codes"))
    )


def compact_codes(
    spark: SparkSession,
    index_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Maintenance pass after N incremental appends and/or streamed
    batches: each codes/cell=N's ingest_batch=* partitions merge into a
    bin-packed cell=N/ingest_batch=0 (append adds one file per batch per
    cell and streaming one partition per micro-batch; probe cost then
    grows with file count). The move is layout.merge_sharded_layer over
    one shard, the live version: a per-partition coalesce — zero
    shuffle, cell pruning untouched — then rename-swap into place;
    codebooks are frozen so nothing else needs refresh. The
    append+compact == single-pass-build equivalence is pinned at the
    QUERY level in tests/test_ivf_index.py. Quiescent-ingest contract
    for streamed indexes. Returns compaction stats."""
    import os as _os

    from migrate_cassandra_to_mysql_spark.operators.layout import (
        merge_sharded_layer,
        swap_live_dir,
    )

    # the tombstone purge rides the rewrite compaction does anyway
    with tombstones.compaction(spark, index_dir, "vec_id") as purge:
        stats = merge_sharded_layer(
            spark,
            [_os.path.realpath(f"{index_dir}/codes")],
            f"{index_dir}/codes.new",
            [purge],
            sort_within_by=("vec_id",),
            target_file_bytes=target_file_bytes,
            schema=SCHEMAS["codes"],
        )
        swap_live_dir(index_dir, "codes")
    # ALWAYS re-commit after the codes swap: a manifest left pointing at
    # the pre-compaction version would pin readers there — harmlessly at
    # first (compaction is content-identical), but LATER APPENDS land in
    # the new live version and manifest-pinned readers would miss them.
    tombstones.commit(index_dir, LAYERS)
    return stats


def merge_indexes(
    spark: SparkSession,
    src_dirs: "Sequence[str]",
    dst_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Consolidate N IVFADC index SHARDS into one index at dst_dir —
    the vector twin of inverted_index.merge_indexes (per-day/per-source
    shards built independently, merged for serving). The merge moves
    CODES, never vectors: no re-encoding, no corpus scan — a vector's
    (cell, codes) is a pure function of the FROZEN codebooks, so codes
    from shards sharing codebooks belong in the same index verbatim.
    Each merged cell is a bin-packed union of the shards' same cell
    (coalesce of input splits — zero shuffle); each shard's own
    tombstones purge during the rewrite, so the merged index equals a
    single build over the union of the shards' live vectors (pinned at
    the query level in tests).

    Loud rejections:
    - codebook mismatch (cells / pq / residual flag differ): codes
      encoded under different codebooks are incomparable — re-encode
      the divergent shard (rebuild with the target codebooks) first;
    - a vec_id in more than one shard after purges (shards must
      partition the corpus).

    Operational contract: shards quiescent during the merge; dst_dir a
    fresh index directory."""
    import os as _os

    from migrate_cassandra_to_mysql_spark.operators.layout import (
        commit_live_snapshot,
        merge_sharded_layer,
        swap_live_dir,
    )

    src_dirs = list(src_dirs)
    if not src_dirs:
        raise ValueError("merge_indexes needs at least one source index")
    base_cells, base_centers = load_ivfpq_codebooks(spark, src_dirs[0])
    base_res = load_ivfpq_residual_flag(spark, src_dirs[0])
    for d in src_dirs[1:]:
        cells_d, centers_d = load_ivfpq_codebooks(spark, d)
        if (
            cells_d != base_cells
            or centers_d != base_centers
            or load_ivfpq_residual_flag(spark, d) != base_res
        ):
            raise ValueError(
                f"{d} encodes with different codebooks (cells/pq/"
                f"residual) than {src_dirs[0]} — their codes are "
                "incomparable. Re-encode the divergent shard with the "
                "target codebooks (build_ivfpq_index over its vectors, "
                "passing the target cells/centers) before merging."
            )
    layers = [tombstones.resolve(d, LAYERS) for d in src_dirs]
    purges = [tombstones.mask(spark, lay, "vec_id") for lay in layers]

    # vec disjointness (cheap: codes rows carry m ints, and the check
    # shuffles only the id column)
    ids = None
    for purge, lay in zip(purges, layers):
        one = purge(
            read_parquet_retry(spark, lay["codes"], SCHEMAS["codes"])
        ).select("vec_id")
        ids = one if ids is None else ids.unionByName(one)
    dups = (
        ids.groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .limit(5)
        .collect()
    )
    if dups:
        raise ValueError(
            "vec_id(s) present in more than one shard (e.g. "
            f"{sorted(int(r['vec_id']) for r in dups)}) — shards must "
            "partition the corpus. Deduplicate (delete_vectors the "
            "copies you don't want) and re-run."
        )

    # frozen control-plane layers copy from shard 0 (verified equal)
    for part in ("cells", "pq", "meta"):
        if _os.path.isdir(f"{src_dirs[0]}/{part}"):
            (
                read_parquet_retry(
                    spark, f"{src_dirs[0]}/{part}", SCHEMAS[part]
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{dst_dir}/{part}")
            )

    # per-cell code move: the generic zero-shuffle shard move
    # (layout.merge_sharded_layer) — union of the shards' cell=N,
    # purged per shard, bin-packed by listed bytes.
    moved = merge_sharded_layer(
        spark,
        [lay["codes"] for lay in layers],
        f"{dst_dir}/codes.new",
        purges,
        sort_within_by=("vec_id",),
        target_file_bytes=target_file_bytes,
        schema=SCHEMAS["codes"],
    )
    agg = {
        "files_in": moved["files_in"],
        "files_out": moved["files_out"],
        "bytes": moved["bytes"],
        "cells": moved["partitions"],
    }
    swap_live_dir(dst_dir, "codes")
    commit_live_snapshot(dst_dir, LAYERS)
    return agg


# In-process cache of the FROZEN index metadata layers (cells/pq/meta
# are written once at build and never swapped — see build_ivfpq_index's
# layout contract). Every ivfpq_search/rerank call was re-running three
# tiny driver-side parquet-collect jobs to reload byte-identical
# codebooks; a serving process caches them in memory exactly like a
# production vector store does. Keyed on the layer directories' inode +
# mtime so a rebuild INTO THE SAME PATH (mode="overwrite" recreates the
# dirs) can never serve stale codebooks. Per-process only — a fresh
# bench/driver invocation always reloads from the parquet inputs.
# Shape (r14 ADVICE — unbounded growth): the dict is keyed by
# (kind, realpath) with the freshness tuple stored BESIDE the value, so
# a rebuild into the same path REPLACES the superseded entry (possibly
# MBs of centroids) instead of accumulating one per (inode, mtime); a
# long-lived serving process that rebuilds repeatedly stays O(live
# indexes), not O(rebuilds).
_CODEBOOK_CACHE: dict = {}


def _frozen_layer_key(index_dir: str, subs: tuple) -> tuple:
    import os

    parts = [os.path.realpath(index_dir)]
    for sub in subs:
        p = f"{index_dir}/{sub}"
        if os.path.isdir(p):
            st = os.stat(p)
            parts.append((sub, st.st_ino, st.st_mtime_ns))
        else:
            parts.append((sub, None, None))
    return tuple(parts)


def _cache_get(kind: str, index_dir: str, subs: tuple):
    """Cached value iff the layer dirs' (inode, mtime_ns) still match."""
    import os

    fresh = _frozen_layer_key(index_dir, subs)
    hit = _CODEBOOK_CACHE.get((kind, os.path.realpath(index_dir)))
    if hit is not None and hit[0] == fresh:
        return hit[1]
    return None


def _cache_put(kind: str, index_dir: str, subs: tuple, value) -> None:
    import os

    _CODEBOOK_CACHE[(kind, os.path.realpath(index_dir))] = (
        _frozen_layer_key(index_dir, subs),
        value,
    )


def load_ivfpq_residual_flag(spark: SparkSession, index_dir: str) -> bool:
    """The index's persisted encoding mode. Indexes built before the
    residual option (no meta/) are raw-encoded by construction."""
    import os

    if not os.path.isdir(f"{index_dir}/meta"):
        return False
    hit = _cache_get("residual", index_dir, ("meta",))
    if hit is not None:
        return hit
    value = bool(
        read_parquet_retry(spark, f"{index_dir}/meta", SCHEMAS["meta"])
        .collect()[0]["residual"]
    )
    _cache_put("residual", index_dir, ("meta",), value)
    return value


def load_ivfpq_codebooks(
    spark: SparkSession, index_dir: str
) -> tuple[list, list]:
    """(cell_centroids, centers) from a persisted IVFADC index —
    control-plane sized by the codebook contract. Cached per process
    (see _CODEBOOK_CACHE): the layers are frozen at build time."""
    hit = _cache_get("codebooks", index_dir, ("cells", "pq"))
    if hit is not None:
        return hit
    cell_rows = read_parquet_retry(
        spark, f"{index_dir}/cells", SCHEMAS["cells"]
    ).collect()
    cell_rows.sort(key=lambda r: r["c_id"])
    cell_centroids = [list(r["cv"]) for r in cell_rows]
    pq_rows = read_parquet_retry(
        spark, f"{index_dir}/pq", SCHEMAS["pq"]
    ).collect()
    m = 1 + max(r["mi"] for r in pq_rows)
    n = 1 + max(r["j"] for r in pq_rows)
    by_mj = {(r["mi"], r["j"]): list(r["cv"]) for r in pq_rows}
    centers = [[by_mj[(mi, j)] for j in range(n)] for mi in range(m)]
    _cache_put("codebooks", index_dir, ("cells", "pq"), (cell_centroids, centers))
    return cell_centroids, centers


def delete_vectors(spark: SparkSession, index_dir: str, vec_ids) -> None:
    """Delete vectors from the persisted IVFADC index — tombstone twin of
    inverted_index.delete_docs: vec_ids join the tombstone layer
    (operators/tombstones, which holds the atomicity and concurrency
    contract) and one manifest commit makes them invisible to every
    later search; the next compact_codes physically purges the code rows
    and resets the layer. Cost now: O(tombstones); no codebook retrain,
    no cell rewrite (deletions only remove candidates). Same
    single-maintainer / quiescent-ingest contract as compact_codes. A
    LATER batch append of a tombstoned vec_id supersedes the deletion
    (append_to_ivfpq_index purges first via compact_codes); streaming
    ingest rejects re-adds loudly instead (stream_vectors_into_ivfpq_index)."""
    tombstones.add(
        spark, index_dir, vec_ids, "vec_id",
        lambda: tombstones.commit(index_dir, LAYERS),
    )


def ivfpq_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k per query row (q_id, qv) over the persisted IVFADC
    index. The query side is computed on the driver: the queries' rows
    are collected once (no job for a local frame, one for any other
    frame; qv is read as array<double>), and for each query its probe
    cells and, per probed cell, its m x n_centers ADC distance table
    come from operators/similarity's driver twins of ranked_cells_expr
    and adc_query_side (same fold order, same 6-dp rounding, so
    bit-identical). The (q_id, q_cell, lut) rows enter the plan as a
    local frame, so planning runs no Spark job and the plan carries no
    literal codebook. The read lists only the probed cell dirs
    (layout.read_parquet_retry's `partitions`), so planning lists
    O(n_probe) dirs however many cells the index has, and the probed
    set becomes a literal IN filter that reaches the codes scan as a
    parquet PartitionFilter — unprobed cells' files are never opened,
    and the rows that ARE read carry m code bytes, not d-dim vectors. Scoring is a broadcast equi-join on
    cell + m table lookups per candidate; the broadcast row carries m *
    n_centers doubles (1 KB at m=8, 16 centers; n_probe rows per query).
    The only shuffle is the per-query top-k window. Same conventions as
    the inline operators, so results equal similarity.ivfpq_topk
    row-for-row. The index's persisted encoding mode (meta/) selects raw
    or residual ADC automatically — a query cannot accidentally score
    residual codes with raw query vectors. The codes read retries
    through a concurrent compact_codes' rename-swap window
    (layout.read_parquet_retry) and passes the layer's declared schema.

    `allowed` (a vec_id frame) is the FILTERED-search path: a metadata
    predicate evaluated elsewhere (label set, tenant, date range)
    left-semi-joins onto the probed codes scan BEFORE ADC scoring, so
    only admitted candidates are scored and ranked — pre-filtering, the
    semantics every production vector store exposes (post-filtering a
    fixed-k result can starve a selective filter to <k hits). The set
    broadcasts while it fits; Catalyst flips to a shuffled semi-join
    beyond that — either way the codes scan itself stays probe-pruned
    first, filter second, so cost remains O(probed ∩ allowed)."""
    rows, q_type = _collect_queries(queries)
    return _adc_topk(spark, index_dir, rows, q_type, k, n_probe, allowed)


def _collect_queries(queries: DataFrame) -> tuple[list, str]:
    """The queries' (q_id, qv) rows on the driver, qv as doubles, plus
    q_id's type. One collect: a local frame (a LocalTableScan) answers it
    with no Spark job, any other frame with one."""
    rows = queries.select(
        "q_id", F.col("qv").cast("array<double>").alias("qv")
    ).collect()
    q_type = queries.schema["q_id"].dataType.simpleString()
    return [(r["q_id"], r["qv"]) for r in rows], q_type


def _probes_and_tables(
    rows: list, cell_centroids: list, centers: list, residual: bool,
    n_probe: int,
) -> list:
    """(q_id, q_cell, lut, qv) per (query, probed cell): the probe
    explode of ranked_cells_expr followed by adc_query_side, computed on
    the driver by their bit-identical twins in operators/similarity."""
    from migrate_cassandra_to_mysql_spark.operators import similarity as sim

    if not rows:
        return []
    qv = np.array([v for _, v in rows], dtype=np.float64)
    pairs = [
        (i, c)
        for i, cells in enumerate(sim.ranked_cells(qv, cell_centroids))
        for c in cells[:n_probe]
    ]
    if residual:
        cents = np.asarray(cell_centroids, dtype=np.float64)
        idx, cells = [i for i, _ in pairs], [c for _, c in pairs]
        luts = sim.adc_tables(qv[idx] - cents[cells], centers)
    else:
        per_query = sim.adc_tables(qv, centers)
        luts = [per_query[i] for i, _ in pairs]
    return [
        (rows[i][0], c, lut, rows[i][1]) for (i, c), lut in zip(pairs, luts)
    ]


def _adc_topk(
    spark: SparkSession,
    index_dir: str,
    rows: list,
    q_type: str,
    k: int,
    n_probe: int,
    allowed: DataFrame | None,
    with_qv: bool = False,
) -> DataFrame:
    """ivfpq_search over already-collected query rows; `with_qv` carries
    each query's vector on its rows (the re-rank's query side)."""
    from migrate_cassandra_to_mysql_spark.operators import similarity as sim

    cell_centroids, centers = load_ivfpq_codebooks(spark, index_dir)
    residual = load_ivfpq_residual_flag(spark, index_dir)
    probes = _probes_and_tables(
        rows, cell_centroids, centers, residual, n_probe
    )
    ddl = f"q_id {q_type}, q_cell long, lut array<array<double>>"
    if with_qv:
        ddl += ", qv array<double>"
    else:
        probes = [p[:3] for p in probes]
    q_lut = local_frame(spark, probes, ddl)
    probed = sorted({p[1] for p in probes})
    layer = tombstones.resolve(index_dir, LAYERS)
    codes = (
        read_parquet_retry(
            spark,
            layer["codes"],
            SCHEMAS["codes"],
            partitions=[f"cell={c}" for c in probed],
        )
        .where(F.col("cell").isin(probed))
        .select("vec_id", "codes", F.col("cell").cast("long").alias("cell"))
    )
    # tombstoned vectors are invisible the moment the delete commits; the
    # physical purge rides the next compact_codes
    codes = tombstones.mask(spark, layer, "vec_id")(codes)
    if allowed is not None:
        codes = codes.join(
            F.broadcast(allowed.select("vec_id")), "vec_id", "left_semi"
        )
    cand = (
        F.broadcast(q_lut)
        .join(codes, F.col("cell") == F.col("q_cell"))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            "cell",
            sim.adc_lookup_expr(len(centers)).alias("approx_dist"),
            *(["qv"] if with_qv else []),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("approx_dist"), F.asc("n_id"))
    return cand.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    ).where(F.col("rnk") <= k)


def ivf_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 1,
) -> DataFrame:
    """Top-k cosine neighbors per query row (q_id, qv) over the persisted
    index, probing the n_probe nearest cells per query.

    The probed cell set is collected (control-plane sized: <= k_centroids
    values) and applied as a literal IN filter so it reaches the corpus
    scan as a parquet PartitionFilter — the unprobed cells' files are
    never opened. Candidate scoring is a broadcast join (queries are the
    small side) on cell, then a per-query top-k window.
    """
    codebook = load_codebook(spark, index_dir)
    qv = queries.select(
        F.col("q_id").alias("vec_id"), F.col("qv").alias("v")
    )
    q_cells = _nearest_cells(qv, codebook, n_probe).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("c_id").alias("q_cell"),
    )
    probed = [r["q_cell"] for r in q_cells.select("q_cell").distinct().collect()]
    corpus = (
        spark.read.parquet(f"{index_dir}/corpus")
        .where(F.col("cell").isin(probed))
        .select("vec_id", "v", F.col("cell").cast("long").alias("cell"))
    )
    cand = (
        F.broadcast(q_cells)
        .join(corpus, F.col("cell") == F.col("q_cell"))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            "cell",
            F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
    )


def ivfpq_search_rerank(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    shortlist: int = 20,
    embedding_col: str = "embedding",
    allowed: DataFrame | None = None,
) -> DataFrame:
    """The full production serving composition over the PERSISTED index:
    ADC shortlist from the on-disk codes (probe-pruned, m bytes per
    candidate — ivfpq_search above) + exact-cosine re-rank of only the
    shortlisted candidates' full vectors from `corpus`. This is the
    persisted twin of similarity.ivfpq_rerank_topk (equality pinned by
    test) and the end-to-end recall rung the clustered fixture measures
    at 0.94 with the trained-residual serving default.

    Scale shape: the shortlist (queries x shortlist rows) BROADCASTS
    against the corpus scan for the vector fetch — the corpus never
    shuffles, and at 100 TB the fetch reads only the rows a Bloom/DPP
    filter on vec_id admits; the final exact top-k windows over
    queries x shortlist rows. The corpus stays a caller-supplied frame
    because the index stores codes only — 64x smaller than vectors,
    which is the point of the layout.

    `allowed` pre-filters the ADC shortlist (see ivfpq_search): the
    shortlist is drawn from admitted candidates only, so the exact
    re-rank never wastes its corpus fetches on rows a post-filter would
    discard — and a selective filter still yields k results.

    The queries are collected once (see ivfpq_search): the same rows
    feed the driver-side ADC query side and, carried as `qv` on the
    probe rows through the shortlist, the exact re-rank's query side, so
    with a local-frame `queries` the whole plan is built without a Spark
    job. The exact cosine is one SQL expression (similarity.cosine_sql,
    the fold order of functions/vectors.cosine), rounded to 6 dp."""
    from migrate_cassandra_to_mysql_spark.operators.similarity import (
        cosine_sql,
    )

    rows, q_type = _collect_queries(queries)
    short = _adc_topk(
        spark, index_dir, rows, q_type, shortlist, n_probe, allowed,
        with_qv=True,
    ).select("q_id", "n_id", "qv")
    vecs = corpus.select(
        F.col("vec_id").alias("n_id"),
        F.col(embedding_col).cast("array<double>").alias("nv"),
    )
    scored = F.broadcast(short).join(vecs, "n_id").select(
        "q_id",
        "n_id",
        F.expr(f"round({cosine_sql('qv', 'nv')}, 6)").alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return scored.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    ).where(F.col("rnk") <= k)


def build_bq_index(
    embeddings: DataFrame, index_dir: str, codebook: DataFrame
) -> None:
    """Binary-quantized IVF index: sign-pack every vector into two
    BIGINT words (functions/vectors.bq_pack_sql — 1 bit/dim, 64x
    compression) and persist the CODES ONLY, hive-partitioned by the
    nearest-centroid cell:

      codebook/          k rows (c_id, cv)
      codes/cell=N/...   (vec_id, w1, w2) — 24 bytes/vector

    Full vectors are NOT stored: the exact re-rank fetches them from
    the base table by vec_id (shortlist-sized, broadcast), which is the
    point of the layout — at 100 TB of vectors the code table is
    ~vectors/8 bytes and the per-cell partitions are small enough to
    pin in executor memory. Encoding is one map-side projection (exact
    integer bit construction off `v[i] >= 0` comparisons, no shuffle
    beyond the partitioned write); the codebook assignment reuses the
    IVF discipline (_nearest_cells: cosine 6-dp, tie on c_id).

    The reference has no vector surface (its scan unit is the token
    range, snapshot_use_pyspark.py:107-137); engine-added
    training-pipeline serving layout, composing the r12 flat BQ row
    (plans/vectorplans.bq_hamming_topk) with the IVF cell pruning of
    build_ivf_index above.
    """
    from migrate_cassandra_to_mysql_spark.functions.vectors import (
        bq_pack_sql,
    )

    assigned = _nearest_cells(_base(embeddings), codebook, 1).select(
        "vec_id",
        F.expr(bq_pack_sql("v", 0)).alias("w1"),
        F.expr(bq_pack_sql("v", 32)).alias("w2"),
        F.col("c_id").alias("cell"),
    )
    codebook.coalesce(1).write.mode("overwrite").parquet(
        f"{index_dir}/codebook"
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_dir}/codes"
    )


def bq_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    base: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    shortlist: int = 30,
) -> DataFrame:
    """Top-k per query over the persisted BQ index: probe the n_probe
    nearest cells (literal IN filter -> parquet PartitionFilters, so
    unprobed cells' code files are never opened), Hamming-shortlist
    within the probed cells only (two XOR+popcount ops per candidate —
    no float math touches anything outside the shortlist), then
    exact-cosine re-rank the shortlist against full vectors fetched
    from `base` by vec_id.

    `queries` is (q_id, qv: array<double>); query words are packed
    inline from qv (identical integer construction as the index build,
    so a corpus row queried against itself has Hamming 0 by identity).

    Determinism: cell probe = cosine 6-dp + c_id tie (the shared
    _nearest_cells order), Hamming exact integer, shortlist total order
    (hamming, n_id), rerank (cos_sim 6-dp DESC, n_id). Output columns
    (q_id, n_id, cell, hamming, cos_sim, rnk) — `cell` is the
    candidate's cell so the oracle can replay the probe set.

    Scale shape: queries broadcast against the pruned codes scan; the
    sole shuffles are the two per-query windows (shortlist, top-k) over
    queries x cell-candidate rows; the base-table fetch broadcasts the
    queries x shortlist frame so the 100 TB vector table never
    shuffles."""
    from migrate_cassandra_to_mysql_spark.functions.vectors import (
        bq_pack_sql,
        cosine as _cos,
    )

    codebook = load_codebook(spark, index_dir)
    qv = queries.select(F.col("q_id").alias("vec_id"), F.col("qv").alias("v"))
    q_cells = (
        _nearest_cells(qv, codebook, n_probe)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.expr(bq_pack_sql("v", 0)).alias("qw1"),
            F.expr(bq_pack_sql("v", 32)).alias("qw2"),
            F.col("c_id").alias("q_cell"),
        )
    )
    probed = [
        r["q_cell"] for r in q_cells.select("q_cell").distinct().collect()
    ]
    codes = (
        spark.read.parquet(f"{index_dir}/codes")
        .where(F.col("cell").isin(probed))
        .select("vec_id", "w1", "w2", F.col("cell").cast("long").alias("cell"))
    )
    cand = (
        F.broadcast(q_cells)
        .join(codes, F.col("cell") == F.col("q_cell"))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "qv",
            F.col("vec_id").alias("n_id"),
            "cell",
            F.expr(
                "CAST(bit_count(qw1 ^ w1) + bit_count(qw2 ^ w2) AS BIGINT)"
            ).alias("hamming"),
        )
    )
    ws = Window.partitionBy("q_id").orderBy(F.asc("hamming"), F.asc("n_id"))
    short = (
        cand.withColumn("srn", F.row_number().over(ws))
        .where(F.col("srn") <= shortlist)
        .drop("srn")
    )
    vecs = base.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").cast("array<double>").alias("nv"),
    )
    rer = F.broadcast(short).join(vecs, "n_id").select(
        "q_id",
        "n_id",
        "cell",
        "hamming",
        F.round(_cos(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
    )
    wr = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return rer.withColumn(
        "rnk", F.row_number().over(wr).cast("long")
    ).where(F.col("rnk") <= k)
