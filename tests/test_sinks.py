"""Sink tests: idempotent writes against real sqlite, deadlock retry
semantics, MySQL SQL-text generation."""

from __future__ import annotations

import sqlite3
import tempfile

import pytest

from migrate_cassandra_to_mysql_spark.sinks import idempotent as sink

DB_PATH = tempfile.mkdtemp() + "/sink.db"


def _conn():
    return sqlite3.connect(DB_PATH)


def _sqlite_rowfactory_conn():
    c = sqlite3.connect(DB_PATH)
    c.row_factory = sqlite3.Row
    return c


def setup_module():
    c = _conn()
    c.execute(
        "CREATE TABLE IF NOT EXISTS files "
        "(file_id INTEGER PRIMARY KEY, name TEXT, size INTEGER)"
    )
    c.execute(sink.WAL_DDL)
    c.commit()
    c.close()


def _rows(data):
    return iter([dict(zip(("file_id", "name", "size"), r)) for r in data])


def test_write_partition_idempotent_rerun():
    data = [(1, "a", 10), (2, "b", 20), (3, "c", 30)]
    n1 = sink.write_partition(
        _rows(data), _conn, "files", ["file_id", "name", "size"],
        dialect=sink.SQLITE, batch_size=2,
    )
    # Re-run the exact same partition (simulating a Spark task retry):
    n2 = sink.write_partition(
        _rows(data), _conn, "files", ["file_id", "name", "size"],
        dialect=sink.SQLITE, batch_size=2,
    )
    assert n1 == n2 == 3
    c = _conn()
    assert c.execute("SELECT count(*) FROM files").fetchone()[0] == 3
    c.close()


def test_write_partition_wal_brackets():
    c = _conn()
    c.execute("DELETE FROM snapshot_wal")
    c.commit()
    c.close()
    sink.write_partition(
        _rows([(10, "x", 1), (11, "y", 2), (12, "z", 3)]),
        _conn, "files", ["file_id", "name", "size"],
        dialect=sink.SQLITE, batch_size=2, wal=True,
    )
    c = _conn()
    wal = c.execute(
        "SELECT batch_id, status FROM snapshot_wal ORDER BY rowid"
    ).fetchall()
    c.close()
    # 2 batches (2 + 1 rows), each bracketed STARTED -> COMMITTED.
    assert wal == [(0, "STARTED"), (0, "COMMITTED"), (1, "STARTED"), (1, "COMMITTED")]


def test_upsert_updates_in_place():
    sink.write_partition(
        _rows([(1, "a2", 99)]), _conn, "files", ["file_id", "name", "size"],
        dialect=sink.SQLITE, key_cols=["file_id"], batch_size=10,
    )
    c = _conn()
    assert c.execute("SELECT name, size FROM files WHERE file_id=1").fetchone() == (
        "a2", 99,
    )
    c.close()


def test_write_partition_empty_opens_no_connection():
    def no_connection():
        raise AssertionError("an empty partition must not connect")

    assert sink.write_partition(iter([]), no_connection, "files", ["file_id"]) == 0


class _Deadlock(Exception):
    errno = 1213


def test_retry_with_backoff_retries_deadlocks():
    calls, delays = [], []
    def fn():
        calls.append(1)
        if len(calls) < 3:
            raise _Deadlock()
    retries = sink.retry_with_backoff(fn, max_retries=5, sleep=delays.append)
    assert retries == 2
    assert delays == [0.5, 1.0]  # 0.5 * 2^n


def test_retry_with_backoff_gives_up_after_max():
    def fn():
        raise _Deadlock()
    with pytest.raises(_Deadlock):
        sink.retry_with_backoff(fn, max_retries=2, sleep=lambda _: None)


def test_retry_non_retryable_propagates_immediately():
    calls = []
    def fn():
        calls.append(1)
        raise ValueError("boom")
    with pytest.raises(ValueError):
        sink.retry_with_backoff(fn, sleep=lambda _: None)
    assert len(calls) == 1


def test_mysql_sql_text():
    assert sink.MYSQL.insert_ignore("t", ["a", "b"]) == (
        "INSERT IGNORE INTO t (a, b) VALUES (%s, %s)"
    )
    assert sink.MYSQL.upsert("t", ["a", "b"], ["a"]) == (
        "INSERT INTO t (a, b) VALUES (%s, %s) ON DUPLICATE KEY UPDATE b=VALUES(b)"
    )


def test_write_idempotent_distributed(spark, sf_dir):
    """Full mapInArrow path: write orders keys through the sink from
    executors, rerun, count once."""
    from migrate_cassandra_to_mysql_spark.sources.parquet import table as T

    db = tempfile.mkdtemp() + "/dist.db"
    c = sqlite3.connect(db)
    c.execute("CREATE TABLE dst (file_id INTEGER PRIMARY KEY, total REAL)")
    c.commit()
    c.close()

    df = (
        T(spark, sf_dir, "orders")
        .selectExpr("o_orderkey AS file_id", "o_totalprice AS total")
        .repartition(4)
    )
    import functools

    factory = functools.partial(sink.sqlite_connection_factory, db)
    for _ in range(2):  # second run must be a no-op on contents
        sink.write_idempotent(
            df, factory, "dst", dialect=sink.SQLITE, batch_size=500
        )
    c = sqlite3.connect(db)
    n = c.execute("SELECT count(*) FROM dst").fetchone()[0]
    c.close()
    assert n == df.count()


def test_write_idempotent_type_fidelity(spark):
    """Each Spark type lands in sqlite as the same value a Row would give:
    a naive 'YYYY-MM-DD HH:MM:SS' timestamp, ISO date, NULL as NULL and
    binary as a BLOB. The returned count is the rows sent, on a rerun
    too (INSERT OR IGNORE skips them but still sends them)."""
    import functools

    db = tempfile.mkdtemp() + "/types.db"
    c = sqlite3.connect(db)
    c.execute(
        "CREATE TABLE typed (id INTEGER PRIMARY KEY, ts TEXT, d TEXT,"
        " n INTEGER, x REAL, s TEXT, b BLOB)"
    )
    c.commit()
    c.close()
    df = spark.sql(
        "SELECT * FROM VALUES"
        " (1, TIMESTAMP '2024-03-05 06:07:08', DATE '2024-03-05', 7, 1.5D,"
        "  'a', X'00FF'),"
        " (2, TIMESTAMP '1999-12-31 23:59:59', DATE '1999-12-31',"
        "  CAST(NULL AS INT), -0.25D, CAST(NULL AS STRING), X'')"
        " AS t(id, ts, d, n, x, s, b)"
    ).repartition(4)  # more partitions than rows: some are empty
    factory = functools.partial(sink.sqlite_connection_factory, db)
    for _ in range(2):
        assert sink.write_idempotent(df, factory, "typed", dialect=sink.SQLITE) == 2
    c = sqlite3.connect(db)
    rows = c.execute(
        "SELECT id, ts, d, n, x, s, b, typeof(b) FROM typed ORDER BY id"
    ).fetchall()
    c.close()
    assert rows == [
        (1, "2024-03-05 06:07:08", "2024-03-05", 7, 1.5, "a", b"\x00\xff", "blob"),
        (2, "1999-12-31 23:59:59", "1999-12-31", None, -0.25, None, b"", "blob"),
    ]
