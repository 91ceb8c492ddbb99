"""End-to-end snapshot job — the reference's main() as one engine call.

Reference lifecycle (`snapshot_use_pyspark.py:410-490`): config -> DDL
bootstrap -> fresh-start truncate -> range planning -> wave loop of
scan/sanitize/batch-insert -> count validation. Here the same lifecycle is
one function over composable pieces:

  snapshot_pipeline (operators/snapshot.py)   declarative transform plan
  write_idempotent  (sinks/idempotent.py)     retry-safe keyed writes
  control.bootstrap/record_validation         control-plane parity tables

The wave loop disappears: Spark task retry + key-idempotent writes give
the same convergence without driver-managed ranges (control.run_waves
remains available for range-granular resume against reference-era
checkpoint tables).

The sink write is the job's only Spark action over the pipeline: its
returned row count and the progress Observation both come from the
execution that wrote the rows. Control DDL runs first, so a bad
connection fails before any corpus pass.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from migrate_cassandra_to_mysql_spark.operators.snapshot import snapshot_pipeline
from migrate_cassandra_to_mysql_spark.sinks import control
from migrate_cassandra_to_mysql_spark.sinks.idempotent import (
    MYSQL,
    WAL_DDL,
    Dialect,
    write_idempotent,
)


@dataclass
class SnapshotJobConfig:
    """Mirrors the reference's SnapshotConfig surface
    (`snapshot_use_pyspark.py:26-46`) minus connection strings (the
    connection_factory carries those)."""

    table: str
    key_col: str
    renames: dict[str, str] = field(default_factory=dict)
    empty_string_cols: list[str] = field(default_factory=list)
    ts_default_cols: dict[str, str] = field(default_factory=dict)
    dedup_order_cols: list[str] | None = None
    batch_size: int = 5000
    n_buckets: int = 256
    dialect: Dialect = MYSQL
    upsert_keys: list[str] | None = None  # None -> INSERT IGNORE semantics
    wal: bool = False
    drop_bucket_col: bool = True


def run_snapshot(
    source: DataFrame,
    connection_factory: Callable[[], object],
    cfg: SnapshotJobConfig,
    count_target: Callable[[], int] | None = None,
) -> dict:
    """Run the full snapshot: transform -> idempotent write -> validate.

    count_target: callable returning the destination row count (defaults
    to SELECT count(*) on cfg.table through connection_factory). Returns a
    summary dict including the persisted validation verdict.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import Observation

    df = snapshot_pipeline(
        source,
        key_col=cfg.key_col,
        renames=cfg.renames,
        empty_string_cols=cfg.empty_string_cols,
        ts_default_cols=cfg.ts_default_cols,
        dedup_order_cols=cfg.dedup_order_cols,
        n_buckets=cfg.n_buckets,
    )
    if cfg.drop_bucket_col:
        df = df.drop("token_bucket")

    # Progress counters ride the sink's write action via observe() — the
    # reference's lock-guarded progress_counter (A7,
    # snapshot_only_python.py:247-249) without a second pass over the data.
    obs = Observation("snapshot_metrics")
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_processed"),
        F.min(cfg.key_col).alias("min_key"),
        F.max(cfg.key_col).alias("max_key"),
    )
    conn = connection_factory()
    try:
        control.bootstrap(conn)
        if cfg.wal:
            # Executors write WAL rows per batch, so the table must exist
            # before the write (the reference's mysql-init/init.sql).
            conn.cursor().execute(WAL_DDL)
            conn.commit()
        source_count = write_idempotent(
            df,
            connection_factory,
            cfg.table,
            dialect=cfg.dialect,
            key_cols=cfg.upsert_keys,
            batch_size=cfg.batch_size,
            wal=cfg.wal,
        )
        if count_target is None:
            cur = conn.cursor()
            cur.execute(f"SELECT count(*) FROM {cfg.table}")  # noqa: S608
            target_count = cur.fetchone()[0]
        else:
            target_count = count_target()
        status = control.record_validation(
            conn, cfg.table, source_count, target_count, dialect=cfg.dialect
        )
    finally:
        conn.close()
    return {
        "table": cfg.table,
        "source_count": source_count,
        "target_count": target_count,
        "diff": abs(source_count - target_count),
        "status": status,
        "metrics": obs.get,  # rows_processed / min_key / max_key (A5/A7)
    }
