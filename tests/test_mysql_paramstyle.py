"""The MySQL dialect's statements reach the driver in its own paramstyle.

MySQL drivers take `%s` placeholders; a `?` statement fails there with
"Not all parameters were used". The shim below is a sqlite connection
that accepts only `%s` statements (and MySQL's INSERT IGNORE), so the
whole product job and the wave loop can run under the MYSQL dialect.
"""

from __future__ import annotations

import sqlite3
import tempfile

import pytest
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.jobs import SnapshotJobConfig, run_snapshot
from migrate_cassandra_to_mysql_spark.sinks import control
from migrate_cassandra_to_mysql_spark.sinks.idempotent import MYSQL
from migrate_cassandra_to_mysql_spark.sources.parquet import table as T


def _factory(tmp_name: str):
    """(db path, connection factory) for a sqlite database reached through
    a connection that speaks the MySQL drivers' `%s` paramstyle. Every
    piece is nested here so Spark ships the factory to executors by
    value."""
    db = tempfile.mkdtemp() + f"/{tmp_name}.db"

    def to_sqlite(sql: str, params) -> str:
        if sql.count("%s") != len(params):
            raise TypeError(
                "Not all parameters were used in the SQL statement: "
                f"{sql!r} with {len(params)} parameters"
            )
        return sql.replace("%s", "?").replace("INSERT IGNORE", "INSERT OR IGNORE")

    class Cursor:
        def __init__(self, cur):
            self._cur = cur

        def execute(self, sql, params=()):
            return self._cur.execute(to_sqlite(sql, params), params)

        def executemany(self, sql, seq):
            seq = list(seq)
            return self._cur.executemany(to_sqlite(sql, seq[0]), seq)

        def fetchone(self):
            return self._cur.fetchone()

        def fetchall(self):
            return self._cur.fetchall()

        def close(self):
            self._cur.close()

    class Connection:
        def __init__(self):
            self._conn = sqlite3.connect(db, timeout=60)

        def cursor(self):
            return Cursor(self._conn.cursor())

        def commit(self):
            self._conn.commit()

        def rollback(self):
            self._conn.rollback()

        def close(self):
            self._conn.close()

    return db, Connection


def test_shim_rejects_question_mark_statements():
    _, factory = _factory("shim")
    cur = factory().cursor()
    with pytest.raises(TypeError, match="Not all parameters were used"):
        cur.execute("SELECT ?", (1,))


def test_run_snapshot_under_mysql_dialect(spark, sf_dir):
    db, factory = _factory("job_mysql")
    c = sqlite3.connect(db)
    c.execute("CREATE TABLE files (file_id INTEGER PRIMARY KEY, total REAL)")
    c.commit()
    c.close()
    src = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("file_id"), F.col("o_totalprice").alias("total")
    )
    cfg = SnapshotJobConfig(
        table="files", key_col="file_id", dialect=MYSQL, batch_size=400, wal=True
    )
    summary = run_snapshot(src, factory, cfg)
    assert summary["status"] == "OK"
    assert summary["source_count"] == summary["target_count"] == src.count()
    c = sqlite3.connect(db)
    assert c.execute("SELECT status FROM snapshot_validation").fetchall() == [
        ("OK",)
    ]
    c.close()


def test_run_waves_under_mysql_dialect():
    _, factory = _factory("waves_mysql")
    ranges = [
        {"range_start": i, "range_end": i + 1, "checkpoint": i} for i in range(4)
    ]

    def process(todo):
        return [(r["range_end"], r["range_start"], r["range_end"]) for r in todo]

    assert control.run_waves(factory, process, ranges) == 1
    conn = factory()
    assert control.fetch_incomplete(conn) == []
    conn.close()
