"""JDBC source/sink option builders (MySQL-flavored).

Maps the reference's MySQL write path onto Spark's JDBC writer:
  - batchsize 5000 (`config _example.sh:24`)
  - READ COMMITTED isolation (`snapshot_use_pyspark.py:206`)
  - rewriteBatchedStatements so executemany-style batches become one
    multi-row INSERT on the wire (the reference relies on
    mysql-connector's executemany batching, `snapshot_use_pyspark.py:311`)
and the read path onto partitioned JDBC reads (partitionColumn/bounds
replace the reference's manual range fan-out for the MySQL side).

NOTE: Spark's built-in JDBC writer is append/overwrite only — for the
INSERT IGNORE / upsert semantics the reference depends on, use
sinks/idempotent.py (mapInArrow with key-idempotent SQL). These
builders are for plain reads and bulk loads into keyless staging tables:
pass them to `spark.read.format("jdbc").options(...)` or the writer's.
"""

from __future__ import annotations


def mysql_url(host: str, port: int, database: str, **props: str) -> str:
    base = f"jdbc:mysql://{host}:{port}/{database}"
    defaults = {
        "rewriteBatchedStatements": "true",
        "useSSL": "false",
        "characterEncoding": "utf8",
    }
    defaults.update(props)
    qs = "&".join(f"{k}={v}" for k, v in sorted(defaults.items()))
    return f"{base}?{qs}"


def read_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    fetchsize: int = 2000,
) -> dict[str, str]:
    opts = {"url": url, "dbtable": table, "fetchsize": str(fetchsize)}
    if partition_column is not None:
        opts.update(
            {
                "partitionColumn": partition_column,
                "lowerBound": str(lower_bound),
                "upperBound": str(upper_bound),
                "numPartitions": str(num_partitions),
            }
        )
    return opts


def write_options(
    url: str,
    table: str,
    batchsize: int = 5000,
    isolation_level: str = "READ_COMMITTED",
    truncate: bool = False,
) -> dict[str, str]:
    return {
        "url": url,
        "dbtable": table,
        "batchsize": str(batchsize),
        "isolationLevel": isolation_level,
        "truncate": str(truncate).lower(),
    }

