"""The tombstone layer shared by both persisted indexes — takedown
deletes for the BM25 index (ids in `doc_id`) and the IVFADC index (ids in
`vec_id`), the Iceberg/Delta equality-delete shape rebuilt on open
parquet. Every index reaches the layer through this module; the id column
is the only thing that differs.

On disk, beside the index's data layers:

  deletes/             versioned live symlink (layout.swap_live_dir) to
                       one parquet dir of tombstoned ids
  deletes.new          staging name an enlarged or reset set is written to
  .deletes.rmw.swap.lock  the deleters' read-enlarge-stage-swap lock

and, once the layer exists, `deletes` is a member of the index's
`_snapshot.json` manifest, so readers pin it together with the data layers
it masks.

Lifecycle:
- `add` (delete): the ENLARGED set is staged in `deletes.new` and promoted
  as a NEW version, never appended into the live one, so a reader whose
  manifest pins the previous version keeps the old set until the caller's
  manifest commit — appending in place would show the new tombstones to a
  reader still pairing them with the old derived layers. The whole
  read-enlarge-stage-swap-commit sequence holds the `deletes.rmw`
  maintainer lock (distinct from swap_live_dir's per-promotion lock,
  which guards only the flip): two concurrent deleters would otherwise
  read the same base set and the second swap would drop the first's ids.
  A second deleter fails loudly instead.
- serving (`mask`): the snapshot's tombstones broadcast-anti-join the
  candidates; the set is deletion-sized.
- compaction (`compaction`) and shard merge (`mask` per shard): the
  physical purge rides the rewrite that was due anyway, after which
  compaction resets the layer to an EMPTY schema-bearing version inside
  the same manifest commit, so no reader can pair purged rows with stale
  tombstones or unpurged rows with an emptied set.
- re-add probes (`hits`): which ids of an incoming batch are tombstoned.

Job shape: the layer is read with its declared schema (`schema`), so no
read infers one from parquet footers. Whether a version holds any ids is
read from its parquet footers (metadata, no Spark job), so an index that
never saw a delete and an index whose compaction emptied the layer both
run no tombstone work at all, in maintenance and in serving; a layer that
holds ids is anti-joined with no probe job.
"""

from __future__ import annotations

import contextlib
import glob
import os
from collections.abc import Callable, Iterator, Sequence

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions.localframe import local_frame
from migrate_cassandra_to_mysql_spark.operators import layout

LAYER = "deletes"

Purge = Callable[[DataFrame], DataFrame]


def schema(id_col: str) -> str:
    """The layer's declared schema: one id column."""
    return f"{id_col} bigint"


def _holds_ids(version_dir: str) -> bool:
    """Whether a layer version holds any id, from its parquet footers'
    row counts (metadata only: no Spark job)."""
    return any(
        pq.read_metadata(p).num_rows
        for p in glob.glob(f"{version_dir}/*.parquet")
    )


def _exists(index_dir: str) -> bool:
    d = f"{index_dir}/{LAYER}"
    return os.path.islink(d) or os.path.isdir(d)


def layers(index_dir: str, core: Sequence[str]) -> tuple[str, ...]:
    """The snapshot-manifest layer set: the index's `core` layers, plus
    the tombstone layer once the index has seen its first delete (a
    manifest that omits it on a store that has it would make readers
    fall back to per-layer pinning — safe, but not cross-layer-atomic)."""
    return (*core, LAYER) if _exists(index_dir) else tuple(core)


def commit(index_dir: str, core: Sequence[str]) -> None:
    """One manifest commit over the core layers and, if present, the
    tombstone layer."""
    layout.commit_live_snapshot(index_dir, layers(index_dir, core))


def resolve(index_dir: str, core: Sequence[str]) -> dict[str, str]:
    """Every layer a reader needs, from one manifest read."""
    return layout.resolve_live_snapshot(index_dir, layers(index_dir, core))


def _read(spark: SparkSession, path: str, id_col: str):
    """The tombstone frame of a layer path if it holds ids, else None."""
    version = os.path.realpath(path)
    if not _holds_ids(version):
        return None
    return layout.read_parquet_retry(spark, version, schema(id_col))


def _load(spark: SparkSession, index_dir: str, id_col: str):
    """The live tombstone frame if the layer exists and holds ids, else
    None."""
    if not _exists(index_dir):
        return None
    return _read(spark, f"{index_dir}/{LAYER}", id_col)


def _anti(deletes, id_col: str) -> Purge:
    if deletes is None:
        return lambda df: df
    hinted = F.broadcast(deletes)
    return lambda df: df.join(hinted, id_col, "left_anti")


def purge(spark: SparkSession, index_dir: str, id_col: str) -> Purge:
    """df -> df without the live tombstoned ids (identity when none)."""
    return _anti(_load(spark, index_dir, id_col), id_col)


def mask(spark: SparkSession, snapshot: dict[str, str], id_col: str) -> Purge:
    """df -> df without the ids tombstoned in a resolved snapshot
    (identity when the snapshot has no tombstone layer or an empty one).
    No Spark job."""
    if LAYER not in snapshot:
        return lambda df: df
    return _anti(_read(spark, snapshot[LAYER], id_col), id_col)


@contextlib.contextmanager
def compaction(
    spark: SparkSession, index_dir: str, id_col: str
) -> Iterator[Purge]:
    """Yields the purge for a compaction's rewrite; when the body
    completes and the layer held tombstones, resets it to an empty
    version. The caller commits the manifest after the block."""
    deletes = _load(spark, index_dir, id_col)
    yield _anti(deletes, id_col)
    if deletes is not None:
        _stage(local_frame(spark, [], schema(id_col)), index_dir)


def hits(
    spark: SparkSession, index_dir: str, ids_df: DataFrame, id_col: str
) -> list:
    """Which of `ids_df`'s ids are tombstoned. The tombstones broadcast
    against the batch ids (map-side semi-join; the batch never shuffles)
    and only the matches collect."""
    deletes = _load(spark, index_dir, id_col)
    if deletes is None:
        return []
    return [
        r[id_col]
        for r in ids_df.select(id_col)
        .join(F.broadcast(deletes), id_col, "left_semi")
        .distinct()
        .collect()
    ]


def add(
    spark: SparkSession,
    index_dir: str,
    ids,
    id_col: str,
    commit_fn: Callable[[], None],
) -> None:
    """Tombstone `ids` (a DataFrame with `id_col`, or an iterable of
    ints): enlarge the set into a new version, then run `commit_fn` —
    the caller's refresh and manifest commit — still under the lock."""
    if not isinstance(ids, DataFrame):
        ids = local_frame(spark, [(int(i),) for i in ids], schema(id_col))
    new = ids.select(F.col(id_col).cast("long"))
    with layout._maintainer_lock(index_dir, f"{LAYER}.rmw", 3600.0):
        existing = _load(spark, index_dir, id_col)
        enlarged = new if existing is None else existing.unionByName(new)
        _stage(enlarged.distinct(), index_dir)
        commit_fn()


def _stage(ids: DataFrame, index_dir: str) -> None:
    ids.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/{LAYER}.new")
    layout.swap_live_dir(index_dir, LAYER)
