"""Partitioned-directory layout: the disk-side half of the 100 TB story.

Writing fact tables partitioned by a coarse time key means a time-bounded
query reads only its partitions — Catalyst partition pruning shows up as
PartitionFilters in the scan, before any row is touched.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.sources.parquet import table as T


def test_partition_pruning_on_year_partitioned_lineitem(spark, sf_dir):
    out = tempfile.mkdtemp() + "/lineitem_by_year"
    li = T(spark, sf_dir, "lineitem")
    li.withColumn("ship_year", F.year("l_shipdate")).write.partitionBy(
        "ship_year"
    ).parquet(out)

    back = spark.read.parquet(out)
    q = back.where(F.col("ship_year") == 1997)

    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "ship_year" in plan.split("PartitionFilters", 1)[1][:200]

    # Pruned read returns exactly the 1997 rows.
    want = li.where(F.year("l_shipdate") == 1997).count()
    assert q.count() == want > 0


def test_partitioned_write_roundtrip_complete(spark, sf_dir):
    out = tempfile.mkdtemp() + "/li2"
    li = T(spark, sf_dir, "lineitem")
    li.withColumn("ship_year", F.year("l_shipdate")).write.partitionBy(
        "ship_year"
    ).parquet(out)
    assert spark.read.parquet(out).count() == li.count()


def test_merge_sharded_layer_empty_shards_yield_empty_version(spark):
    """Empty-but-valid shard set (r11 ADVICE): merging layers that have
    ZERO hive partition dirs must still materialize the `.new` staging
    dir with a zeroed aggregate, so the caller's swap_live_dir promotes
    an empty version instead of dying with FileNotFoundError."""
    import os

    from migrate_cassandra_to_mysql_spark.operators.layout import (
        merge_sharded_layer,
        swap_live_dir,
    )

    root = tempfile.mkdtemp()
    srcs = [f"{root}/shard{i}/postings" for i in range(2)]
    for s in srcs:
        os.makedirs(s)  # exists, but holds no partition dirs
    parent = f"{root}/merged"
    os.makedirs(parent)
    dst_new = f"{parent}/postings.new"

    agg = merge_sharded_layer(
        spark, srcs, dst_new, [lambda df: df, lambda df: df]
    )
    assert agg == {"files_in": 0, "files_out": 0, "bytes": 0, "partitions": 0}
    assert os.path.isdir(dst_new)
    # The caller's promotion completes instead of raising.
    swap_live_dir(parent, "postings")
    assert os.path.islink(f"{parent}/postings")


def test_compacting_a_zero_doc_index_keeps_serving_nothing(
    spark, sf_dir, tmp_path
):
    """An index built from zero documents has no bucket dirs to
    compact; compact_postings still promotes empty layers, returns a
    zeroed aggregate, and the index serves no rows."""
    from migrate_cassandra_to_mysql_spark.operators import inverted_index
    from migrate_cassandra_to_mysql_spark.plans.textplans import _BM25_TERMS

    d = str(tmp_path / "empty_idx")
    docs = T(spark, sf_dir, "documents").where(F.lit(False))
    inverted_index.build_inverted_index(docs, d)
    zero = {"files_in": 0, "files_out": 0, "bytes": 0, "partitions": 0}
    assert inverted_index.compact_postings(spark, d) == {
        **zero,
        "doclens": zero,
    }
    assert inverted_index.bm25_search(spark, d, _BM25_TERMS).collect() == []


def test_merge_sharded_layer_flat_empty_and_mixed_shards(spark):
    """The FLAT (partitioned=False) form of the empty-shard contract
    (late r12): the r11 fix guarded only the partitioned path, so a
    0-doc shard set still crashed on the doclens layer — the flat
    group was non-empty and spark.read.parquet hit a file-less dir.
    All-empty: zeroed aggregate + staging dir, swap succeeds. Mixed:
    file-less shards are skipped, rows from the populated shard move
    verbatim."""
    import os

    from migrate_cassandra_to_mysql_spark.operators.layout import (
        merge_sharded_layer,
        swap_live_dir,
    )

    root = tempfile.mkdtemp()
    srcs = [f"{root}/shard{i}/doclens" for i in range(2)]
    for s in srcs:
        os.makedirs(s)  # exists, but holds no data files at all
    parent = f"{root}/merged"
    os.makedirs(parent)
    dst_new = f"{parent}/doclens.new"

    agg = merge_sharded_layer(
        spark, srcs, dst_new, [lambda df: df, lambda df: df],
        partitioned=False,
    )
    assert agg == {"files_in": 0, "files_out": 0, "bytes": 0, "partitions": 0}
    assert os.path.isdir(dst_new)
    swap_live_dir(parent, "doclens")
    assert os.path.islink(f"{parent}/doclens")

    # Mixed: one populated shard, one file-less shard.
    root2 = tempfile.mkdtemp()
    srcs2 = [f"{root2}/shard{i}/doclens" for i in range(2)]
    os.makedirs(srcs2[1])
    spark.createDataFrame(
        [(1, 10), (2, 20)], "doc_id long, dl long"
    ).withColumn("ingest_batch", F.lit(0)).write.partitionBy(
        "ingest_batch"
    ).parquet(srcs2[0])
    parent2 = f"{root2}/merged"
    os.makedirs(parent2)
    dst_new2 = f"{parent2}/doclens.new"
    agg2 = merge_sharded_layer(
        spark, srcs2, dst_new2, [lambda df: df, lambda df: df],
        partitioned=False,
    )
    assert agg2["partitions"] == 1 and agg2["files_out"] >= 1
    got = spark.read.parquet(f"{dst_new2}/ingest_batch=0")
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2]


def test_merge_sharded_layer_rejects_legacy_shards_both_forms(spark):
    """Legacy pre-ingest_batch shards (bare part-* files directly under
    the layer dir) must fail LOUDLY in BOTH grouping forms (r13
    ADVICE): the r12 guard ran only in the flat (partitioned=False)
    branch, so a legacy shard fed to the partitioned form contributed
    zero key=value groups and its rows silently vanished from the
    merged index — the exact failure mode the guard exists to stop."""
    import os

    import pytest

    from migrate_cassandra_to_mysql_spark.operators.layout import (
        merge_sharded_layer,
    )

    for partitioned in (True, False):
        root = tempfile.mkdtemp()
        legacy = f"{root}/shard0/postings"
        os.makedirs(legacy)
        # one bare data file at the layer level — the legacy layout
        with open(f"{legacy}/part-00000.parquet", "wb") as f:
            f.write(b"x")
        dst_new = f"{root}/merged/postings.new"
        os.makedirs(f"{root}/merged")
        with pytest.raises(ValueError, match="legacy"):
            merge_sharded_layer(
                spark,
                [legacy],
                dst_new,
                [lambda df: df],
                partitioned=partitioned,
            )
