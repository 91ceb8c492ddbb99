"""The snapshot pipeline — the reference's flagship capability as ONE
declarative DataFrame plan.

Reference decomposition (`snapshot_use_pyspark.py`):
  scan with token-range predicate (:216-224) -> per-row NULL sanitize
  (:241-255) -> column rename id->file_id (:456) -> batched INSERT IGNORE,
  i.e. dedup-on-key at the sink (:455-458, uk_file_id at
  mysql-init/init.sql:27) -> per-range count verification (:273-282).

Spark-first re-expression: `read.parquet -> select/rename -> coalesce
sanitize -> window-dedup -> filter(bucket range)`. Catalyst pushes the
projection and any key-range filter into the scan; the dedup is the only
shuffle (hash-partition by key), and AQE sizes its partitions.

Dedup determinism: the reference's INSERT IGNORE keeps whichever duplicate
arrives first (arrival-order nondeterminism). Here the survivor is chosen by
an explicit ORDER BY inside a row_number window so reruns and the SQL oracle
agree — a requirement for idempotent retry at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions.hashing import md5_token_bucket
from migrate_cassandra_to_mysql_spark.functions.sanitize import sanitize_columns


def dedup_by_key(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Keep exactly one row per key, survivor chosen by order_cols ascending.

    Window row_number, kept after a measured A/B against the "clever"
    alternative (`groupBy(key).agg(min_by(struct(all cols), struct(order
    cols)))`): the hash-agg form picks the identical survivor and partial-
    combines map-side, but on realistic snapshot data the key is NEARLY
    UNIQUE (a handful of duplicates per million rows), so partial
    aggregation forwards ~every row anyway — and it forwards them as
    full-row struct buffers with per-row lexicographic struct compares.
    Measured at sf0.1: min_by 1.41s warm vs window 0.92s on
    dedup_exact_lineitem, and the same regression on snapshot_sanitize.
    Both forms shuffle the table once; the window's per-partition sort is
    cheaper than the agg's struct buffering when groups are tiny. For a
    duplicate-HEAVY input (many rows per key) min_by's map-side reduction
    would win — that variant is one expression swap away if a workload
    ever needs it.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def snapshot_pipeline(
    df: DataFrame,
    key_col: str,
    renames: dict[str, str] | None = None,
    empty_string_cols: list[str] | None = None,
    ts_default_cols: dict[str, str] | None = None,
    dedup_order_cols: list[str] | None = None,
    n_buckets: int = 256,
    keep_buckets_below: int | None = None,
) -> DataFrame:
    """scan -> rename -> sanitize -> bucket -> dedup -> range filter."""
    for src, dst in (renames or {}).items():
        df = df.withColumnRenamed(src, dst)
    df = sanitize_columns(df, empty_string_cols, ts_default_cols)
    df = df.withColumn("token_bucket", md5_token_bucket(F.col(key_col), n_buckets))
    df = dedup_by_key(df, [key_col], dedup_order_cols or [key_col])
    if keep_buckets_below is not None:
        # Token-range predicate (P3): server-side in the reference
        # (snapshot_use_pyspark.py:219-220). Here it is NOT pushed below
        # the dedup Window: Catalyst pushes a filter through a Window
        # only on its partition columns, and the Window partitions by the
        # key alone, so this filter applies after the whole shuffle.
        df = df.where(F.col("token_bucket") < keep_buckets_below)
    return df
