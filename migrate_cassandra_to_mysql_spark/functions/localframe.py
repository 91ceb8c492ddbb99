"""Driver-side control/codebook frames as pure-JVM local relations.

Every small driver-built frame in the engine (codebooks, seed lists,
tombstone id sets, reconcile/control rows, fixed mapping tables) used to
go through ``spark.createDataFrame(py_list, ddl)``. That path parallelizes
the rows into ``defaultParallelism`` Python-RDD slices, so EVERY job that
executes a plan containing the frame re-evaluates those slices through
Python workers — measured at 4.4-6.0s per job on local[32] for a 4-row
frame (32 Python partition evaluations), vs 0.06s for the identical data
as a JVM ``LocalTableScan`` (guide §4: eliminate the JVM<->Python
boundary; here the boundary was hiding inside plan *inputs*, not UDFs).

``local_frame`` builds the same rows through one pyarrow RecordBatch:
PySpark converts an arrow Table driver-side into a ``LocalTableScan`` —
no Python at execution time, in BOTH the factory session and a plain
driver session (measured identical plans and values). Values are exact:
a Python float IS an IEEE-754 double and arrow stores it bit-identically,
so results are unchanged from the pickled-row path. A second benefit is
honest size statistics: a ``LocalRelation`` carries its true byte size
(a Python-RDD scan reports ``defaultSizeInBytes`` = unbounded), so
Catalyst can pick broadcast strategies for these control frames on its
own instead of defaulting to sort-merge.

Any type the arrow mapper cannot express falls back to the original
pickled-row path — correctness first, the fast path is an optimization.

Operators that finish small inputs on the driver (connected components,
LSH banding) size that choice with ``driver_row_bound`` and fetch through
``collect_within_bound``, so every driver finish obeys one bound: the
session's ``spark.sql.autoBroadcastJoinThreshold`` over the caller's
bytes per row, the size Spark itself would ship to every executor.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from migrate_cassandra_to_mysql_spark.sources.parquet import _parse_bytes

try:  # pyarrow ships with the pyspark[sql] extra; guard anyway
    import pyarrow as pa
except ImportError:  # pragma: no cover - pyarrow is present in this env
    pa = None  # type: ignore[assignment]

# Minimal DDL -> arrow type mapper for the types the engine's control
# frames actually use. Anything else (timestamps, decimals, structs)
# falls back to the classic path rather than risking a conversion edge.
# DDLs whose arrow conversion already warned once this process (the
# fallback is correct, just slow — one warning per schema is signal
# enough without flooding a loop that builds many frames).
_WARNED_FALLBACK_DDLS: set[str] = set()

_SCALARS = {
    "boolean": "bool_",
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "integer": "int32",
    "bigint": "int64",
    "long": "int64",
    "float": "float32",
    "double": "float64",
    "string": "string",
}


def _arrow_type(ddl_type: str):
    t = ddl_type.strip().lower()
    if t in _SCALARS:
        return getattr(pa, _SCALARS[t])()
    if t.startswith("array<") and t.endswith(">"):
        inner = _arrow_type(t[len("array<") : -1])
        return pa.list_(inner) if inner is not None else None
    return None


def _split_ddl(ddl: str) -> list[tuple[str, str]] | None:
    """Split 'a long, b array<double>' into [(name, type)], honoring
    nesting in ``array<...>``. Returns None on anything it can't parse."""
    fields: list[tuple[str, str]] = []
    depth = 0
    part = ""
    parts: list[str] = []
    for ch in ddl:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(part)
            part = ""
        else:
            part += ch
    if part.strip():
        parts.append(part)
    for p in parts:
        bits = p.strip().split(None, 1)
        if len(bits) != 2:
            return None
        fields.append((bits[0].strip(), bits[1].strip()))
    return fields or None


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], ddl: str
) -> DataFrame:
    """``spark.createDataFrame(rows, ddl)`` with a LocalTableScan plan.

    Drop-in replacement for small driver-side frames: same schema, same
    values (arrow float64 == Python float, bit-exact), but the executed
    plan is a JVM local relation instead of a 32-slice Python RDD scan.
    Falls back to the classic path for types the mapper doesn't know.
    """
    rows = list(rows)
    if pa is None:
        return spark.createDataFrame(rows, ddl)
    fields = _split_ddl(ddl)
    if fields is None:
        return spark.createDataFrame(rows, ddl)
    arrow_fields = []
    for name, t in fields:
        at = _arrow_type(t)
        if at is None:
            return spark.createDataFrame(rows, ddl)
        arrow_fields.append(pa.field(name, at))
    schema = pa.schema(arrow_fields)
    try:
        cols = list(zip(*rows)) if rows else [[] for _ in arrow_fields]
        table = pa.Table.from_arrays(
            [
                pa.array(list(col), type=f.type)
                for col, f in zip(cols, arrow_fields)
            ],
            schema=schema,
        )
        return spark.createDataFrame(table, schema=ddl)
    except Exception as exc:
        # Conversion edge (mixed None patterns, overflow, ...): the
        # pickled-row path is slower but always correct. Warn ONCE per
        # DDL (r14 ADVICE: a silent fallback here would invisibly undo
        # the LocalTableScan optimization — ~4.5s/job on local[32] —
        # with no signal anywhere).
        if ddl not in _WARNED_FALLBACK_DDLS:
            _WARNED_FALLBACK_DDLS.add(ddl)
            import warnings

            warnings.warn(
                f"local_frame: arrow conversion failed for DDL {ddl!r} "
                f"({exc!r}); falling back to the pickled-row "
                "createDataFrame path (slow: a Python-RDD scan per job)",
                RuntimeWarning,
                stacklevel=2,
            )
        return spark.createDataFrame(rows, ddl)


def driver_row_bound(spark: SparkSession, row_bytes: int) -> int:
    """How many rows of `row_bytes` each a driver finish may take:
    spark.sql.autoBroadcastJoinThreshold // row_bytes, and 0 when the
    threshold is <= 0 (broadcast off) or unparseable."""
    threshold = _parse_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    )
    return max(threshold or 0, 0) // row_bytes


def collect_within_bound(df: DataFrame, row_bytes: int) -> list | None:
    """All rows of `df` when there are at most
    ``driver_row_bound(spark, row_bytes)`` of them, else None (always None
    when the bound is 0). One job: a single task reads at most bound + 1
    rows, so a frame above the bound costs one row more than the bound,
    never a full collect."""
    bound = driver_row_bound(df.sparkSession, row_bytes)
    if bound == 0:
        return None
    rows = df.coalesce(1).limit(bound + 1).collect()
    return rows if len(rows) <= bound else None


def is_local(df: DataFrame) -> bool:
    """True when Catalyst folds `df` into a LocalRelation, i.e. its rows
    already sit on the driver. ``Dataset.isLocal`` checks the analyzed
    plan, which is false for a projection over a local frame."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"
