"""Control-plane tables + wave-loop orchestration (reference parity).

Re-expresses the reference's state-as-relations control plane
(`snapshot_use_pyspark.py:63-177`):
  - snapshot_checkpoints(range_start, range_end, checkpoint), PK on the
    range, done <=> checkpoint = range_end (:67-74)
  - seed N ranges when empty (:143-153)
  - fetch incomplete: WHERE checkpoint < range_end (:156-166)
  - bulk checkpoint update after each wave (:169-177)
  - snapshot_validation verdict rows (:89-98, :397-401)
and the wave loop itself (:465-478): re-dispatch incomplete ranges until
none remain.

For most deployments, Structured Streaming checkpoints (streaming/) are
the better resume mechanism — this module exists for operational parity:
dashboards/tooling built on the reference's MySQL control tables keep
working, and a half-finished reference migration can be RESUMED by this
engine because the checkpoint contract is identical.

Everything here is driver-side, tiny-data (256 rows), mirroring the
reference's discipline of collecting only control rows (D3).
"""

from __future__ import annotations

from collections.abc import Callable

from migrate_cassandra_to_mysql_spark.sinks.idempotent import MYSQL, Dialect

CHECKPOINTS_DDL = """
CREATE TABLE IF NOT EXISTS snapshot_checkpoints (
  range_start BIGINT NOT NULL,
  range_end BIGINT NOT NULL,
  checkpoint BIGINT NOT NULL,
  PRIMARY KEY (range_start, range_end)
)
"""

VALIDATION_DDL = """
CREATE TABLE IF NOT EXISTS snapshot_validation (
  table_name VARCHAR(128),
  source_count BIGINT,
  target_count BIGINT,
  diff BIGINT,
  status VARCHAR(16)
)
"""


def bootstrap(conn) -> None:
    """DDL bootstrap (S9): create control tables if absent."""
    cur = conn.cursor()
    for ddl in (CHECKPOINTS_DDL, VALIDATION_DDL):
        cur.execute(ddl)
    conn.commit()


def seed_checkpoints(conn, ranges: list[dict], dialect: Dialect = MYSQL) -> int:
    """Seed ranges iff the table is empty (reference :143-153). Returns the
    number seeded (0 when resuming an existing run)."""
    cur = conn.cursor()
    cur.execute("SELECT count(*) FROM snapshot_checkpoints")
    if cur.fetchone()[0] > 0:
        return 0
    cur.executemany(
        "INSERT INTO snapshot_checkpoints (range_start, range_end, checkpoint)"
        f" VALUES ({dialect.params(3)})",
        [(r["range_start"], r["range_end"], r["checkpoint"]) for r in ranges],
    )
    conn.commit()
    return len(ranges)


def fetch_incomplete(conn) -> list[dict]:
    """Ranges still to do: checkpoint < range_end (reference :156-166)."""
    cur = conn.cursor()
    cur.execute(
        "SELECT range_start, range_end, checkpoint FROM snapshot_checkpoints"
        " WHERE checkpoint < range_end"
    )
    return [
        {"range_start": s, "range_end": e, "checkpoint": c}
        for s, e, c in cur.fetchall()
    ]


def update_checkpoints(
    conn, updates: list[tuple[int, int, int]], dialect: Dialect = MYSQL
) -> None:
    """Bulk (checkpoint, range_start, range_end) updates after a wave."""
    ph = dialect.params(1)
    cur = conn.cursor()
    cur.executemany(
        f"UPDATE snapshot_checkpoints SET checkpoint = {ph}"
        f" WHERE range_start = {ph} AND range_end = {ph}",
        updates,
    )
    conn.commit()


def record_validation(
    conn,
    table_name: str,
    source_count: int,
    target_count: int,
    dialect: Dialect = MYSQL,
) -> str:
    """Persist the reconciliation verdict (reference :392-401)."""
    diff = abs(source_count - target_count)
    status = "OK" if diff == 0 else "MISMATCH"
    cur = conn.cursor()
    cur.execute(
        "INSERT INTO snapshot_validation"
        " (table_name, source_count, target_count, diff, status)"
        f" VALUES ({dialect.params(5)})",
        (table_name, source_count, target_count, diff, status),
    )
    conn.commit()
    return status


def run_waves(
    connection_factory: Callable[[], object],
    process_ranges: Callable[[list[dict]], list[tuple[int, int, int]]],
    ranges: list[dict],
    max_waves: int = 10,
    dialect: Dialect = MYSQL,
) -> int:
    """The wave loop (D5): dispatch incomplete ranges to `process_ranges`
    (which returns (checkpoint, range_start, range_end) results — typically
    by running a range-filtered Spark job), update checkpoints, repeat
    until done. A range whose processing failed simply stays incomplete and
    is re-dispatched next wave — same convergence contract as the
    reference (:465-478). `dialect` is the target's (its paramstyle
    shapes the checkpoint SQL). Returns the number of waves run."""
    conn = connection_factory()
    bootstrap(conn)
    seed_checkpoints(conn, ranges, dialect)
    waves = 0
    while waves < max_waves:
        todo = fetch_incomplete(conn)
        if not todo:
            break
        waves += 1
        results = process_ranges(todo)
        if results:
            update_checkpoints(
                conn, [(c, s, e) for (c, s, e) in results], dialect
            )
    conn.close()
    return waves
