"""End-to-end snapshot job: the reference's full lifecycle in one call,
against real sqlite, including rerun idempotency and NULL sanitize."""

from __future__ import annotations

import functools
import random
import sqlite3
import tempfile

import pytest
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.jobs import SnapshotJobConfig, run_snapshot
from migrate_cassandra_to_mysql_spark.sinks.idempotent import (
    SQLITE,
    sqlite_connection_factory,
)
from migrate_cassandra_to_mysql_spark.sources.parquet import table as T


def _setup(tmp_name):
    db = tempfile.mkdtemp() + f"/{tmp_name}.db"
    c = sqlite3.connect(db)
    c.execute(
        "CREATE TABLE files (file_id INTEGER PRIMARY KEY, status TEXT,"
        " total_price REAL, modified TEXT)"
    )
    c.commit()
    c.close()
    return db, functools.partial(sqlite_connection_factory, db)


def _source(spark, sf_dir):
    # orders as a files-like source with injected NULLs (sanitize fodder).
    return T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("file_id"),
        F.expr("nullif(o_orderstatus, 'O')").alias("status"),
        F.col("o_totalprice").alias("total_price"),
        F.expr(
            "CAST(CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderdate END"
            " AS STRING)"
        ).alias("modified"),
    )


CFG = SnapshotJobConfig(
    table="files",
    key_col="file_id",
    empty_string_cols=["status"],
    dialect=SQLITE,
    batch_size=400,
)


def test_snapshot_job_end_to_end_and_rerun(spark, sf_dir):
    db, factory = _setup("job1")
    src = _source(spark, sf_dir)

    summary = run_snapshot(src, factory, CFG)
    assert summary["status"] == "OK"
    assert summary["diff"] == 0
    assert summary["source_count"] == src.count()
    # observe() counters rode the same job (no extra pass):
    assert summary["metrics"]["rows_processed"] == summary["source_count"]
    assert summary["metrics"]["min_key"] >= 0
    assert summary["metrics"]["max_key"] > summary["metrics"]["min_key"]

    # Rerun the entire job: INSERT IGNORE keeps it converged.
    summary2 = run_snapshot(src, factory, CFG)
    assert summary2["status"] == "OK"
    assert summary2["target_count"] == summary["target_count"]

    c = sqlite3.connect(db)
    # Sanitize applied: no NULL status landed ('' instead).
    assert c.execute("SELECT count(*) FROM files WHERE status IS NULL").fetchone()[0] == 0
    assert c.execute("SELECT count(*) FROM files WHERE status = ''").fetchone()[0] > 0
    # Validation verdict persisted in the control table.
    rows = c.execute("SELECT status FROM snapshot_validation").fetchall()
    assert rows == [("OK",), ("OK",)]
    c.close()


def test_snapshot_job_detects_mismatch(spark, sf_dir):
    _, factory = _setup("job2")
    src = _source(spark, sf_dir)
    summary = run_snapshot(
        src, factory, CFG, count_target=lambda: 1  # simulated bad target
    )
    assert summary["status"] == "MISMATCH"
    assert summary["diff"] > 0


def test_snapshot_job_validates_the_rows_it_wrote(spark, sf_dir):
    """A nondeterministic source keeps a different half of the rows on
    every execution, so the verdict holds only if the count, the observed
    metrics and the written rows all come from one execution. (Spark's
    unseeded rand() fixes its seed when the plan is built, so it repeats
    across actions; a Python coin flip does not.)"""
    _, factory = _setup("job3")
    coin = F.udf(lambda: random.random() < 0.5, "boolean").asNondeterministic()
    summary = run_snapshot(_source(spark, sf_dir).where(coin()), factory, CFG)
    assert summary["status"] == "OK"
    assert summary["source_count"] == summary["target_count"] > 0
    assert summary["metrics"]["rows_processed"] == summary["source_count"]


def test_snapshot_job_fails_fast_on_a_bad_connection(spark, sf_dir):
    """The control DDL runs before the write, so an unreachable target
    raises before any Spark job reads the source."""

    def unreachable():
        raise ConnectionRefusedError("target down")

    def never(_):
        raise AssertionError("the source was read")

    poisoned = _source(spark, sf_dir).where(F.udf(never, "boolean")("file_id"))
    with pytest.raises(ConnectionRefusedError):
        run_snapshot(poisoned, unreachable, CFG)
