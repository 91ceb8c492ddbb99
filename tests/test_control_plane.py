"""Wave-loop orchestration against real sqlite control tables, driving a
real Spark range-filtered pipeline through the idempotent sink — the
reference's full lifecycle (plan -> seed -> waves -> validate) end-to-end."""

from __future__ import annotations

import functools
import sqlite3
import tempfile

from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions.hashing import token_ranges
from migrate_cassandra_to_mysql_spark.sinks import control
from migrate_cassandra_to_mysql_spark.sinks import idempotent as sink
from migrate_cassandra_to_mysql_spark.sources.parquet import table as T


def _mkdb():
    path = tempfile.mkdtemp() + "/ctl.db"
    return path, functools.partial(sink.sqlite_connection_factory, path)


def test_token_ranges_seed_and_resume():
    _, factory = _mkdb()
    conn = factory()
    control.bootstrap(conn)
    ranges = token_ranges(16)
    assert control.seed_checkpoints(conn, ranges, sink.SQLITE) == 16
    assert control.seed_checkpoints(conn, ranges, sink.SQLITE) == 0  # resume: no reseed
    assert len(control.fetch_incomplete(conn)) == 16
    # complete 10 of them
    control.update_checkpoints(
        conn,
        [(r["range_end"], r["range_start"], r["range_end"]) for r in ranges[:10]],
        sink.SQLITE,
    )
    assert len(control.fetch_incomplete(conn)) == 6
    conn.close()


def test_validation_verdicts():
    _, factory = _mkdb()
    conn = factory()
    control.bootstrap(conn)
    assert control.record_validation(conn, "files", 100, 100, sink.SQLITE) == "OK"
    assert (
        control.record_validation(conn, "files", 100, 97, sink.SQLITE)
        == "MISMATCH"
    )
    rows = conn.execute(
        "SELECT table_name, diff, status FROM snapshot_validation ORDER BY diff"
    ).fetchall()
    assert rows == [("files", 0, "OK"), ("files", 3, "MISMATCH")]
    conn.close()


def test_full_wave_lifecycle_with_flaky_ranges(spark, sf_dir):
    """End-to-end: 8 hash ranges over orders -> idempotent sqlite sink, with
    one range FAILING on its first wave (reference behavior: stays
    incomplete, re-dispatched, converges on wave 2)."""
    db, factory = _mkdb()
    conn = factory()
    conn.execute("CREATE TABLE dst (file_id INTEGER PRIMARY KEY, total REAL)")
    conn.commit()
    conn.close()

    orders = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("file_id"), F.col("o_totalprice").alias("total")
    )
    n_ranges = 8
    # Bucket stands in for the token ring; ranges are [i, i] over bucket id.
    ranges = [
        {"range_start": i, "range_end": i + 1, "checkpoint": i}
        for i in range(n_ranges)
    ]
    failed_once = {"flag": False}

    def process(todo):
        results = []
        for r in todo:
            bucket = r["range_start"]
            if bucket == 3 and not failed_once["flag"]:
                failed_once["flag"] = True  # simulated task failure
                continue
            df = orders.where(F.pmod(F.col("file_id"), n_ranges) == bucket)
            sink.write_idempotent(
                df, factory, "dst", dialect=sink.SQLITE, batch_size=500
            )
            results.append((r["range_end"], r["range_start"], r["range_end"]))
        return results

    waves = control.run_waves(factory, process, ranges, dialect=sink.SQLITE)
    assert waves == 2  # converged after re-dispatching the failed range

    conn = factory()
    n = conn.execute("SELECT count(*) FROM dst").fetchone()[0]
    assert (
        control.record_validation(conn, "orders", orders.count(), n, sink.SQLITE)
        == "OK"
    )
    assert control.fetch_incomplete(conn) == []
    conn.close()
