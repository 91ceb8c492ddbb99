"""Idempotent batched relational sink with deadlock retry.

Re-expresses the reference's write path as a reusable Spark sink:
  - batched INSERT IGNORE (`snapshot_use_pyspark.py:260-271,455-458` with
    batch_size 5000 and the uk_file_id unique key providing dedup-on-write)
  - deadlock retry, 5 attempts with 0.5*2^n backoff on MySQL errno
    1213/1205 (`snapshot_use_pyspark.py:293-340`)
  - WAL bracketing: per-batch STARTED then COMMITTED rows
    (`snapshot_use_pyspark.py:305-320`)
  - READ COMMITTED isolation (`snapshot_use_pyspark.py:206`)

Design: Spark's JDBC writer is at-least-once under task retry; exactly-once-
per-key comes from key-idempotent SQL (INSERT IGNORE / upsert) so retries
are harmless. The sink is one DataFrame action, `mapInArrow(...).collect()`:
each partition opens at most one connection (on its first row), writes
batches of `batch_size`, mirroring the reference's connection amortization
(`snapshot_use_pyspark.py:194-208`), and yields its written count. Rows
reach `executemany` as tuples built column by column from Spark's Arrow
record batches, so no per-row `Row` object is ever made. Being a
DataFrame action, the write also fills any `Observation` attached to its
input, and `collect` keeps only successful task attempts, so the summed
count is exact under task retry.

The DB driver is injected (`connection_factory`) because neither MySQL nor
a JDBC driver jar ships in this environment; tests drive the full sink
against sqlite3 via the SQLite dialect, and the MySQL dialect is exercised
at the SQL-text level.
"""

from __future__ import annotations

import itertools
import time
from collections.abc import Callable, Iterable, Iterator, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame

MYSQL_DEADLOCK_ERRNOS = (1213, 1205)


@dataclass(frozen=True)
class Dialect:
    """SQL text for one target database, including its driver's
    paramstyle — the one place every statement the engine sends (sink,
    WAL and control plane) takes its placeholders from."""

    name: str

    def params(self, n: int) -> str:
        """n comma-separated placeholders: MySQL drivers take `%s`,
        sqlite3 takes `?`."""
        ph = {"mysql": "%s", "sqlite": "?"}.get(self.name)
        if ph is None:
            raise ValueError(f"unknown dialect {self.name}")
        return ", ".join([ph] * n)

    def insert_ignore(self, table: str, cols: list[str]) -> str:
        ph = self.params(len(cols))
        collist = ", ".join(cols)
        if self.name == "mysql":
            return f"INSERT IGNORE INTO {table} ({collist}) VALUES ({ph})"
        return f"INSERT OR IGNORE INTO {table} ({collist}) VALUES ({ph})"

    def upsert(self, table: str, cols: list[str], key_cols: list[str]) -> str:
        ph = self.params(len(cols))
        collist = ", ".join(cols)
        updates = ", ".join(
            f"{c}=VALUES({c})" if self.name == "mysql" else f"{c}=excluded.{c}"
            for c in cols
            if c not in key_cols
        )
        if self.name == "mysql":
            return (
                f"INSERT INTO {table} ({collist}) VALUES ({ph}) "
                f"ON DUPLICATE KEY UPDATE {updates}"
            )
        keys = ", ".join(key_cols)
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({ph}) "
            f"ON CONFLICT({keys}) DO UPDATE SET {updates}"
        )


MYSQL = Dialect("mysql")
SQLITE = Dialect("sqlite")


def is_retryable(exc: Exception, retryable_errnos=MYSQL_DEADLOCK_ERRNOS) -> bool:
    """Deadlock/lock-wait detection: MySQL driver exceptions carry .errno;
    generic exceptions can opt in by setting one."""
    return getattr(exc, "errno", None) in retryable_errnos


def retry_with_backoff(
    fn: Callable[[], None],
    max_retries: int = 5,
    base_delay: float = 0.5,
    sleep: Callable[[float], None] = time.sleep,
    retryable: Callable[[Exception], bool] = is_retryable,
) -> int:
    """Run fn, retrying retryable failures with 0.5 * 2^n backoff.

    Returns the number of retries used. Non-retryable errors propagate
    immediately; retryable errors propagate after max_retries.
    """
    for attempt in range(max_retries + 1):
        try:
            fn()
            return attempt
        except Exception as exc:  # noqa: BLE001
            if not retryable(exc) or attempt == max_retries:
                raise
            sleep(base_delay * (2**attempt))
    raise AssertionError("unreachable")


def write_partition(
    rows: Iterable,
    connection_factory: Callable[[], object],
    table: str,
    cols: list[str],
    dialect: Dialect = MYSQL,
    key_cols: list[str] | None = None,
    batch_size: int = 5000,
    max_retries: int = 5,
    wal: bool = False,
    sleep: Callable[[float], None] = time.sleep,
) -> int:
    """Write one partition's rows in idempotent batches. Returns rows written.

    rows are value tuples in `cols` order, or mappings keyed by column
    name. The connection opens on the first row, so an empty partition
    opens none.

    Per batch: optional WAL STARTED row -> executemany insert -> WAL
    COMMITTED -> commit, all on one connection, with deadlock retry around
    the whole batch (rollback before each retry, as the reference does at
    snapshot_use_pyspark.py:323-329).
    """
    it = iter(rows)
    first = next(it, None)
    if first is None:
        return 0
    it = itertools.chain([first], it)
    if isinstance(first, Mapping):
        it = (tuple(row[c] for c in cols) for row in it)
    sql = (
        Dialect.insert_ignore(dialect, table, cols)
        if not key_cols
        else Dialect.upsert(dialect, table, cols, key_cols)
    )
    conn = connection_factory()
    cur = conn.cursor()
    written = 0
    try:
        for batch_seq in itertools.count():
            batch = list(itertools.islice(it, batch_size))
            if not batch:
                break
            wal_args = (table, batch_seq, len(batch))

            def attempt() -> None:
                try:
                    if wal:
                        cur.execute(_wal_sql(dialect, "STARTED"), wal_args)
                    cur.executemany(sql, batch)
                    if wal:
                        cur.execute(_wal_sql(dialect, "COMMITTED"), wal_args)
                    conn.commit()
                except Exception:
                    conn.rollback()
                    raise

            retry_with_backoff(attempt, max_retries=max_retries, sleep=sleep)
            written += len(batch)
    finally:
        cur.close()
        conn.close()
    return written


def _wal_sql(dialect: Dialect, status: str) -> str:
    return (
        f"INSERT INTO snapshot_wal (table_name, batch_id, n_rows, status) "
        f"VALUES ({dialect.params(3)}, '{status}')"
    )


def sqlite_connection_factory(path: str):
    """Picklable sqlite connection factory for tests/local sinks. sqlite
    allows one writer; the generous busy timeout makes concurrent partitions
    queue (stand-in for MySQL row-level locking)."""
    import sqlite3

    return sqlite3.connect(path, timeout=60)


WAL_DDL = """
CREATE TABLE IF NOT EXISTS snapshot_wal (
  table_name VARCHAR(128), batch_id BIGINT, n_rows BIGINT,
  status VARCHAR(16)
)
"""


def _arrow_rows(batch) -> Iterator[tuple]:
    """One record batch as row tuples, built column by column.

    mapInArrow hands timestamps over tz-aware in the session time zone;
    `local_timestamp` turns them back into the naive wall-clock values a
    `Row` carries, so the database stores the same text either way."""
    import pyarrow as pa
    import pyarrow.compute as pc

    columns = []
    for col in batch.columns:
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = pc.local_timestamp(col)
        columns.append(col.to_pylist())
    return zip(*columns)


def write_idempotent(
    df: DataFrame,
    connection_factory: Callable[[], object],
    table: str,
    dialect: Dialect = MYSQL,
    key_cols: list[str] | None = None,
    batch_size: int = 5000,
    wal: bool = False,
) -> int:
    """Distributed idempotent write as one `mapInArrow` action over the
    DataFrame. Returns the number of rows sent: the sum of the per-partition
    counts from successful task attempts. Sent rows include those that
    INSERT IGNORE skips on a rerun.

    connection_factory must be picklable (top-level function / partial) —
    it is shipped to executors. At 100 TB, ensure the DataFrame is
    partitioned so each partition's batch fits the sink's transaction
    budget (df.repartition(n) upstream), and rely on key-idempotent SQL +
    Spark task retry for exactly-once-per-key.
    """
    cols = df.columns

    def handle(batches: Iterator) -> Iterator:
        import pyarrow as pa

        written = write_partition(
            itertools.chain.from_iterable(map(_arrow_rows, batches)),
            connection_factory,
            table,
            cols,
            dialect=dialect,
            key_cols=key_cols,
            batch_size=batch_size,
            wal=wal,
        )
        yield pa.record_batch([pa.array([written], pa.int64())], names=["written"])

    return sum(r.written for r in df.mapInArrow(handle, "written long").collect())
