"""Z-order (Morton curve) data layout — multi-dimensional pruning for the
scan layer.

A 100 TB table sorted by ONE key gives tight parquet row-group min/max
stats for that key only; a range predicate on any other column scans
everything. Interleaving the bits of two keys into a Morton z-value and
sorting by it gives BOTH columns locality: every row group covers a small
rectangle of the (a, b) key space, so 2-D box predicates skip most row
groups on footer stats alone — the same layout trick Delta/Iceberg expose
as OPTIMIZE ZORDER BY, built here from first principles on the open
parquet format (bit-interleave expression + range sort + write).

The z-value is pure integer bit arithmetic (exact on both engines, no
float-determinism concerns), generated from one Python spec for Spark and
DuckDB so the catalog oracle checks the curve itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_BITS = 16


def zvalue_sql_spark(a: str, b: str, bits: int = DEFAULT_BITS) -> str:
    """Spark SQL expression for the Morton z-value of (a, b), low `bits`
    bits of each interleaved (a in even positions). Keys are masked to
    `bits` bits first, so the curve is well-defined for any BIGINT."""
    am = f"(CAST({a} AS BIGINT) & {(1 << bits) - 1})"
    bm = f"(CAST({b} AS BIGINT) & {(1 << bits) - 1})"
    terms = []
    for i in range(bits):
        ta = f"shiftleft((shiftright({am}, {i}) & 1), {2 * i})"
        tb = f"shiftleft((shiftright({bm}, {i}) & 1), {2 * i + 1})"
        terms.extend([ta, tb])
    return "(" + " + ".join(terms) + ")"


def zvalue_sql_duckdb(a: str, b: str, bits: int = DEFAULT_BITS) -> str:
    """DuckDB twin of zvalue_sql_spark — same mathematical value (exact
    integer arithmetic, so the expression shapes need not match)."""
    am = f"(CAST({a} AS BIGINT) & {(1 << bits) - 1})"
    bm = f"(CAST({b} AS BIGINT) & {(1 << bits) - 1})"
    terms = []
    for i in range(bits):
        terms.append(f"((({am} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({bm} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zvalue_py(a: int, b: int, bits: int = DEFAULT_BITS) -> int:
    """Pure-Python reference for tests."""
    a &= (1 << bits) - 1
    b &= (1 << bits) - 1
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def zvalue(col_a: str, col_b: str, bits: int = DEFAULT_BITS) -> Column:
    return F.expr(zvalue_sql_spark(col_a, col_b, bits))


def write_zordered(
    df: DataFrame,
    out_dir: str,
    col_a: str,
    col_b: str,
    bits: int = DEFAULT_BITS,
    n_files: int = 8,
) -> None:
    """Write `df` re-laid-out along the Morton curve of (col_a, col_b):
    min/max-normalize both keys onto the curve's `bits`-bit domain, then
    range-partition + sort by z-value, drop the helper column, write
    parquet.

    The normalization is the step naive z-ordering misses: interleaving
    RAW keys puts a column that occupies a small slice of its bit range
    (partkey spanning 0..200 of a 16-bit domain) entirely into the low
    curve bits, so the sort degenerates to 1-D order on the wider column
    and buys nothing. Scaling each key to the full curve domain (the
    same reason production OPTIMIZE ZORDER BY implementations rank or
    range-normalize first) makes both columns share the high bits. Cost:
    one broadcast 1-row min/max aggregate — no per-row window.

    repartitionByRange gives contiguous, BALANCED curve segments per
    output file (a plain repartition(n).sortWithinPartitions would hash
    rows to files and destroy the locality the curve buys); row groups
    inside each file then cover small key-space rectangles, which is
    what parquet min/max footer pruning needs. At 100 TB this runs as
    one range-exchange over the table — same cost class as any global
    sort — and pays for itself on every subsequent 2-D selective scan."""
    top = (1 << bits) - 1
    stats = df.agg(
        F.min(col_a).cast("long").alias("_a0"),
        F.max(col_a).cast("long").alias("_a1"),
        F.min(col_b).cast("long").alias("_b0"),
        F.max(col_b).cast("long").alias("_b1"),
    )
    norm_a = (
        f"CAST((CAST({col_a} AS BIGINT) - _a0) * {top}"
        f" DIV (CASE WHEN _a1 > _a0 THEN _a1 - _a0 ELSE 1 END) AS BIGINT)"
    )
    norm_b = (
        f"CAST((CAST({col_b} AS BIGINT) - _b0) * {top}"
        f" DIV (CASE WHEN _b1 > _b0 THEN _b1 - _b0 ELSE 1 END) AS BIGINT)"
    )
    (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            "__z",
            F.expr(zvalue_sql_spark(norm_a, norm_b, bits)),
        )
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", "_a0", "_a1", "_b0", "_b1")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def _sum_moves(results: "Sequence[dict]") -> dict:
    """Aggregate {files_in, files_out, bytes, partitions} of
    merge_sharded_layer's per-partition moves."""
    agg = {
        k: sum(r[k] for r in results)
        for k in ("files_in", "files_out", "bytes")
    }
    agg["partitions"] = len(results)
    return agg


def merge_sharded_layer(
    spark,
    src_layer_dirs: "Sequence[str]",
    dst_new_dir: str,
    purge_fns: "Sequence",
    *,
    partitioned: bool = True,
    exclude: "Sequence[str]" = (),
    sort_within_by: "Sequence[str] | None" = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    schema=None,
) -> dict:
    """The one layer-rewrite move of BOTH persisted indexes: a shard
    merge (inverted_index.merge_indexes / ivf_index.merge_indexes, whose
    index-SPECIFIC integrity guards stay with the callers) and a
    compaction (compact_postings / compact_codes: a merge of ONE shard,
    the layer's own live version).

    Rows move VERBATIM — union of the shards' same hive partition,
    each shard's frame first through its own `purge_fns[i]` (identity
    or a broadcast anti-join of that shard's tombstones: the rewrite
    performs the owed physical purge), bin-packed by listed input
    bytes with a per-partition coalesce — ZERO shuffle at any corpus
    size (coalesce only glues input splits together). The output file
    count comes from the source listing, driver-side metadata with no
    data pass; the listing is a local-FS glob, and an object-store
    deployment swaps in its own listing of the same sizes. The
    `ingest_batch` sub-level collapses into ingest_batch=0 (the
    directory-derived column is dropped before write). Partition jobs
    submit concurrently through run_concurrently (a failed group
    cancels the rest): each job is tiny, so sequential submission would
    dominate wall clock at thousands of partitions.

    `partitioned=False` is the flat-layer form (an index's doclens):
    one group, still byte-bin-packed — one row per doc is billions at
    the design point, never force a single file. `exclude` names
    partition dirs (e.g. "bucket=-1") no shard contributes: a caller
    that re-partitions those rows itself stages them as one more shard.

    Writes land under `dst_new_dir` (a `.new` staging name) — the
    caller promotes via swap_live_dir and commits its snapshot
    manifest after ALL its layers moved, keeping the cross-layer
    atomicity contract in one place. `schema` is the layer's declared
    schema (each partition group reads it minus the group's own
    column), so no group pays a footer-inference job. Returns aggregate
    {files_in, files_out, bytes, partitions}."""
    import glob as _glob
    import os as _os

    srcs = list(src_layer_dirs)
    purge_fns = list(purge_fns)

    def _read_purged_union(paths_by_shard: "list[tuple[int, str]]", name):
        merged = None
        group_schema = _without(schema, name.split("=", 1)[0])
        for i, path in paths_by_shard:
            df = _read_parquet(spark, path, group_schema)
            if "ingest_batch" in df.columns:
                df = df.drop("ingest_batch")
            df = purge_fns[i](df)
            merged = df if merged is None else merged.unionByName(df)
        return merged

    def _listed(name: str, shard_ids: "list[int]") -> "list[str]":
        sub = f"/{name}" if name else ""
        return [
            p
            for i in shard_ids
            for p in _glob.glob(f"{srcs[i]}{sub}/ingest_batch=*/part-*")
            if _os.path.isfile(p)
        ]

    def _move(name: str, shard_ids: "list[int]", files_in) -> dict:
        sub = f"/{name}" if name else ""
        total = sum(_os.path.getsize(p) for p in files_in)
        n_out = max(1, -(-total // target_file_bytes))
        merged = _read_purged_union(
            [(i, f"{srcs[i]}{sub}") for i in shard_ids], name
        ).coalesce(n_out)
        if sort_within_by:
            merged = merged.sortWithinPartitions(*sort_within_by)
        out = f"{dst_new_dir}{sub}/ingest_batch=0"
        merged.write.mode("overwrite").parquet(out)
        files_out = len(
            [p for p in _glob.glob(f"{out}/part-*") if _os.path.isfile(p)]
        )
        return {
            "files_in": len(files_in),
            "files_out": files_out,
            "bytes": total,
        }

    # A shard with bare part-* files directly under the layer dir is
    # the legacy pre-ingest_batch layout index_ingest.py refuses at
    # stream start. BOTH grouping forms below would otherwise SILENTLY
    # DROP its rows from the rewritten layer (the flat form's file-less
    # skip sees no ingest_batch dirs; the partitioned form's key=value
    # glob sees no partition dirs), so check before the branch split.
    for i in range(len(srcs)):
        if any(
            _os.path.isfile(p) for p in _glob.glob(f"{srcs[i]}/part-*")
        ):
            raise ValueError(
                f"{srcs[i]} holds unpartitioned leaf files (legacy "
                "pre-ingest_batch layout); rewriting it would silently "
                "drop its rows. Rebuild the shard (build writes "
                "ingest_batch=0 now) or move the files under an "
                "ingest_batch=0 subdirectory."
            )

    if partitioned:
        by_part: dict[str, list[int]] = {}
        for i, src in enumerate(srcs):
            for d in _glob.glob(f"{src}/*=*"):
                name = _os.path.basename(d)
                if (
                    _os.path.isdir(d)
                    and not name.startswith("ingest_batch=")
                    and name not in exclude
                ):
                    by_part.setdefault(name, []).append(i)
        groups = [(name, by_part[name]) for name in sorted(by_part)]
    else:
        # Flat form: a shard whose layer holds zero data files (a
        # 0-row dynamic-partition write emits no ingest_batch dirs at
        # all) must not reach spark.read.parquet — an empty dir fails
        # schema inference. Skip file-less shards; if EVERY shard is
        # empty, fall through to the empty-but-valid guard below.
        with_files = [
            i
            for i in range(len(srcs))
            if _glob.glob(f"{srcs[i]}/ingest_batch=*/part-*")
        ]
        groups = [("", with_files)] if with_files else []

    if not groups:
        # Empty-but-valid shard set: zero partition dirs across every
        # shard. Still materialize dst_new_dir so the
        # caller's swap_live_dir promotes an empty version instead of
        # raising FileNotFoundError on the missing `.new` staging name —
        # merging empty indexes succeeds with a zeroed aggregate.
        _os.makedirs(dst_new_dir, exist_ok=True)
        return _sum_moves([])
    # Submission concurrency adapts to group WEIGHT: 8 in-flight jobs
    # is right when each group is a fact-sized coalesce+write that fills
    # the cluster, but a merge of file-sized groups (every group under
    # ~64 MB of listed bytes) is pure per-job overhead, and capping
    # those at 8 leaves the scheduler idle; tiny jobs don't fight for
    # executors, so submit them all.
    groups = [(name, ids, _listed(name, ids)) for name, ids in groups]
    small = all(
        sum(_os.path.getsize(p) for p in files) <= 64 * 1024 * 1024
        for _, _, files in groups
    )
    return _sum_moves(
        run_concurrently(
            spark,
            *(lambda g=g: _move(*g) for g in groups),
            max_workers=min(len(groups), 32) if small else 8,
        )
    )


def run_concurrently(
    spark, *thunks: "Callable[[], object]", max_workers: int | None = None
) -> list:
    """Run independent Spark-action thunks on at most `max_workers`
    threads (default: one per thunk; threads drive submission only,
    Spark's scheduler multiplexes execution) and return their results in
    submit order. Each worker inherits the caller's local properties, so
    its jobs carry the caller's job group and tags.

    The first failure cancels the thunks still queued and the running
    siblings' Spark jobs — found by a job tag each worker adds — waits
    for every thread to return, then re-raises that failure: no writer
    outlives the call, and a failed layer write does not wait out its
    siblings' full jobs first."""
    import concurrent.futures as _cf
    import uuid as _uuid

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    tag = f"run_concurrently-{_uuid.uuid4().hex}"
    inherited = jsc.getLocalProperties()

    def tagged(fn):
        def run():
            own = jsc.getLocalProperties()
            jsc.setLocalProperties(inherited.clone())
            sc.addJobTag(tag)
            try:
                return fn()
            finally:
                jsc.setLocalProperties(own)

        return run

    with _cf.ThreadPoolExecutor(max_workers=max_workers or len(thunks)) as ex:
        futs = [ex.submit(tagged(t)) for t in thunks]
        _cf.wait(futs, return_when=_cf.FIRST_EXCEPTION)
        failed = [f for f in futs if f.done() and f.exception() is not None]
        if failed:
            for f in futs:
                f.cancel()  # only the not-yet-started ones
            # a sibling may submit its next job after a cancel: repeat
            # until every thread has returned
            while not all(f.done() for f in futs):
                sc.cancelJobsWithTag(tag)
                _cf.wait(futs, timeout=0.05)
            raise failed[0].exception()
        return [f.result() for f in futs]


def _without(schema, column: str):
    """`schema` (DDL string or StructType; None passes through) minus
    `column` — the schema of one partition directory of a layer."""
    from pyspark.sql.types import StructType

    if schema is None:
        return None
    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    return StructType([f for f in st.fields if f.name != column])


def _read_parquet(spark, path, schema=None, base_path=None):
    """spark.read.parquet with the layer's declared schema. Without one,
    Spark infers the schema from parquet footers, and that inference is
    a Spark job of its own on every read (schema=None keeps it, for
    directories whose layout nobody declared). `path` may be a list of
    partition dirs under `base_path`."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return reader.parquet(*([path] if isinstance(path, str) else path))


def read_parquet_retry(
    spark,
    path: str,
    schema=None,
    attempts: int = 8,
    initial_delay: float = 0.05,
    partitions: "Sequence[str] | None" = None,
):
    """spark.read.parquet pinned to the CURRENT live version and with a
    bounded retry on missing-path errors — the reader side of
    swap_live_dir's contract. Resolving the live symlink to its real
    versioned dir BEFORE handing the path to Spark means the file
    listing, the plan, and the execution all address one immutable
    version: a refresh that flips the pointer mid-query cannot invalidate
    this query's already-listed files (the previous version is always
    retained one swap cycle, and every superseded version survives until
    gc_grace_seconds AFTER it was superseded — the flip touches the
    replaced version dir, so the pinned version only disappears if the
    query outlives the grace, regardless of how long the version was
    live or how fast refreshes cycle). The retry covers the two remaining windows — a
    legacy real-dir migration's one-time rename, and an index that is
    mid-first-build. Retries ONLY path-not-found (any other analysis
    error re-raises immediately) with exponential backoff; the last
    attempt's error propagates, so a genuinely absent index still fails
    loudly rather than hanging.

    Pass the layer's declared schema (each index module keeps them in
    its SCHEMAS): a read with it is plan-only, while schema=None infers
    the schema from parquet footers at the cost of one Spark job per
    read. The missing-path check and retry hold either way.
    tests/test_index_schemas.py fails if a package read of an index
    layer leaves it out.

    `partitions` (partition dir names such as "bucket=3") restricts the
    read to those of them that exist in the resolved version, read with
    basePath set to it, so partition columns keep their values and a
    caller's partition filter still shows as PartitionFilters. Planning
    then lists O(len(partitions)) dirs, not the whole layer: listing
    more than spark.sql.sources.parallelPartitionDiscovery.threshold
    (32) sibling dirs is a Spark job of its own. None of them existing
    reads nothing (an empty frame of the declared schema)."""
    import os as _os
    import time as _time

    for i in range(attempts):
        try:
            resolved = (
                _os.path.realpath(path) if _os.path.islink(path) else path
            )
            if partitions is None:
                return _read_parquet(spark, resolved, schema)
            return _read_parquet(
                spark,
                [
                    f"{resolved}/{p}"
                    for p in partitions
                    if _os.path.isdir(f"{resolved}/{p}")
                ],
                schema,
                base_path=resolved,
            )
        except Exception as e:  # AnalysisException: PATH_NOT_FOUND
            msg = str(e)
            missing = "PATH_NOT_FOUND" in msg or "does not exist" in msg
            if not missing or i == attempts - 1:
                raise
            _time.sleep(min(initial_delay * (2**i), 1.0))


def _maintainer_lock(parent_dir: str, part: str, lock_stale_seconds: float):
    """O_EXCL single-maintainer lockfile (`.{part}.swap.lock`) guarding
    version mutations of `{parent_dir}/{part}` — swap_live_dir promotions
    and ensure_live_dir's one-time live-dir adoption share it so the two
    cannot race each other. Raises RuntimeError if another maintainer
    holds the lock; a lock older than `lock_stale_seconds` is treated as
    abandoned by a crashed maintainer and broken (by ATOMIC RENAME, so
    two breakers cannot both enter — see inline comments). Context
    manager; releases only the lock inode it created."""
    import contextlib as _contextlib
    import os as _os
    import time as _time
    from pathlib import Path as _Path

    parent = _Path(parent_dir)
    lock = parent / f".{part}.swap.lock"

    def _acquire() -> int:
        return _os.open(str(lock), _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)

    def _busy_error(age: float) -> RuntimeError:
        return RuntimeError(
            f"another maintainer holds {lock} (age {age:.0f}s) — "
            f"swap_live_dir is single-maintainer per part; serialize "
            f"compaction/refresh jobs for {part!r} or remove the lock "
            f"if its owner crashed"
        )

    @_contextlib.contextmanager
    def _held():
        try:
            fd = _acquire()
        except FileExistsError:
            try:
                age = _time.time() - lock.stat().st_mtime
            except FileNotFoundError:
                age = float("inf")  # holder just released; retry below
            if age <= lock_stale_seconds:
                raise _busy_error(age)
            # Break the stale lock by ATOMIC RENAME, not unlink: unlink
            # would race a peer that broke the same stale lock and
            # re-acquired a fresh one between our stat() and unlink() — we
            # would delete the peer's fresh lock and both maintainers
            # would enter the critical section. rename moves only whatever
            # inode currently sits at the lock path; if a peer already
            # broke it our rename raises FileNotFoundError, and if the
            # peer also re-acquired, our re-acquire below loses LOUDLY
            # with the single-maintainer error instead of leaking a bare
            # FileExistsError.
            broken = (
                parent
                / f".{part}.swap.lock.broken.{_os.getpid()}.{_time.time_ns()}"
            )
            try:
                _os.rename(lock, broken)
            except FileNotFoundError:
                pass  # a peer broke it first; fall through to re-acquire
            else:
                broken.unlink(missing_ok=True)
            try:
                fd = _acquire()
            except FileExistsError:
                raise _busy_error(0.0)
        _os.write(fd, f"{_os.getpid()}\n".encode())
        _os.close(fd)
        try:
            lock_ino = lock.stat().st_ino
        except FileNotFoundError:  # pragma: no cover - only after a break
            lock_ino = -1
        try:
            yield
        finally:
            # Release only OUR lock: if this maintainer somehow held the
            # critical section past lock_stale_seconds, a peer may have
            # broken our lock and acquired a fresh one at the same path —
            # blindly unlinking would remove the peer's lock. The inode
            # check confines the unlink to the file we created.
            try:
                if lock.stat().st_ino == lock_ino:
                    lock.unlink(missing_ok=True)
            except FileNotFoundError:
                pass

    return _held()


def _flip_live(parent, part: str, target: str) -> None:
    """Point the live name `parent/part` at the sibling `target`
    atomically: a temp symlink `.{part}.ptr.tmp` (a leftover one is
    replaced), renamed over the live name by os.replace."""
    import os as _os

    tmp = parent / f".{part}.ptr.tmp"
    if tmp.is_symlink() or tmp.exists():
        tmp.unlink()
    _os.symlink(target, tmp)
    _os.replace(tmp, parent / part)


def ensure_live_dir(
    parent_dir: str,
    part: str,
    lock_stale_seconds: float = 3600.0,
) -> str:
    """Guarantee `{parent_dir}/{part}` is a VERSIONED live symlink and
    return the real (versioned) directory appends must write into.

    This is the writer-side half of the swap_live_dir/read_parquet_retry
    contract for APPEND-ONLY layers (index postings/doclens/codes):
    appends land inside the current version dir — files only ever APPEAR
    under a live version, so a reader that pinned the resolved version
    keeps a stable file listing for its whole query; a compactor later
    promotes a NEW version and the pinned one survives the GC grace.
    Without this, a first build/ingest leaves the live name a REAL
    directory, and the first compaction's one-time legacy migration
    renames it out from under any in-flight reader MID-EXECUTION — a
    FILE_NOT_EXIST failure read_parquet_retry's plan-time retry cannot
    cover (caught by the sf1 serving soak, round 10).

    Three cases:
    - live is already a symlink: resolve and return it (no lock taken).
    - live missing: create an empty `{part}.v<N>` + flip the symlink —
      a brand-new index is versioned from its FIRST file.
    - live is a legacy REAL dir: adopt it as a version via the same
      rename+symlink one-time migration swap_live_dir performs (sub-ms
      alias window for unpinned readers, covered by read_parquet_retry's
      plan-time retry).
    The two mutating cases take the part's maintainer lock."""
    import os as _os
    import re as _re
    from pathlib import Path as _Path

    live = _Path(f"{parent_dir}/{part}")
    if live.is_symlink():
        return _os.path.realpath(live)
    _os.makedirs(parent_dir, exist_ok=True)
    parent = _Path(parent_dir)
    with _maintainer_lock(parent_dir, part, lock_stale_seconds):
        if live.is_symlink():  # lost an adoption race; the winner's flip
            return _os.path.realpath(live)
        vpat = _re.compile(_re.escape(part) + r"\.v(\d+)$")
        n = (
            max(
                (
                    int(m.group(1))
                    for d in parent.iterdir()
                    if (m := vpat.match(d.name))
                ),
                default=0,
            )
            + 1
        )
        vdir = parent / f"{part}.v{n}"
        if live.exists():
            live.rename(vdir)  # legacy adoption (one-time alias window)
        else:
            vdir.mkdir()
        _flip_live(parent, part, vdir.name)
        return str(vdir)


_SNAPSHOT_NAME = "_snapshot.json"


def commit_live_snapshot(parent_dir: str, parts: "Sequence[str]") -> None:
    """Atomically record the CURRENT live version of each part in
    `{parent_dir}/_snapshot.json` (write-temp + os.replace). This is the
    cross-layer consistency half of the versioned-layout contract: each
    swap_live_dir flip is atomic PER LAYER, but a store whose layers must
    agree (an inverted index's tombstones and stats) needs readers to
    see them move TOGETHER — a maintainer therefore performs all its
    layer swaps first and commits ONE manifest at the end, and readers
    resolve every layer from one manifest read
    (resolve_live_snapshot). A reader can then never pair a new
    tombstone set with old stats, however unluckily it lands between two
    swaps;
    until the commit, readers keep the previous consistent set (whose
    version dirs the swaps retain — prev + GC grace)."""
    import json as _json
    import os as _os

    snap: dict[str, str] = {}
    for part in parts:
        live = _os.path.join(parent_dir, part)
        if _os.path.islink(live):
            snap[part] = _os.readlink(live)  # relative version-dir name
        elif _os.path.isdir(live):
            snap[part] = part  # legacy real dir: self-referential pin
        else:
            raise FileNotFoundError(
                f"{live} has no live dir to snapshot — promote it first"
            )
    tmp = _os.path.join(parent_dir, _SNAPSHOT_NAME + ".tmp")
    with open(tmp, "w") as f:
        _json.dump({"layers": snap}, f)
    _os.replace(tmp, _os.path.join(parent_dir, _SNAPSHOT_NAME))


def resolve_live_snapshot(
    parent_dir: str, parts: "Sequence[str]"
) -> dict[str, str]:
    """One atomic read of `{parent_dir}/_snapshot.json` -> {part:
    version-dir path}, the reader half of commit_live_snapshot's
    cross-layer contract. Falls back to live-symlink resolution — still
    per-layer-atomic, just not cross-layer — when the manifest is
    absent (pre-manifest store), incomplete (a layer added since), or
    references a version dir that no longer exists (a crashed
    maintainer's stale manifest after GC: self-heal to the current
    pointers instead of failing every read)."""
    import json as _json
    import os as _os

    def _fallback() -> dict[str, str]:
        return {
            p: _os.path.realpath(_os.path.join(parent_dir, p))
            for p in parts
        }

    try:
        with open(_os.path.join(parent_dir, _SNAPSHOT_NAME)) as f:
            layers = _json.load(f)["layers"]
    except (FileNotFoundError, ValueError, KeyError):
        return _fallback()
    out: dict[str, str] = {}
    for p in parts:
        v = layers.get(p)
        if v is None:
            return _fallback()
        d = _os.path.join(parent_dir, v)
        if not _os.path.isdir(d):
            return _fallback()
        out[p] = d
    return out


def swap_live_dir(
    parent_dir: str,
    part: str,
    gc_grace_seconds: float = 600.0,
    lock_stale_seconds: float = 3600.0,
) -> None:
    """Promote `{parent_dir}/{part}.new` to `{parent_dir}/{part}`
    ATOMICALLY: the .new dir is renamed to a fresh versioned name
    `{part}.v<N>` and the live name becomes a SYMLINK flipped onto it
    with os.replace — one atomic rename on POSIX, so a concurrent reader
    never sees a missing live path (the old two-rename scheme had a
    reader-visible window). In-flight readers that already resolved the
    previous version keep reading it (the read_parquet_retry + realpath
    discipline in the serving paths pins the resolved version for the
    query's lifetime): the immediately-previous version dir is ALWAYS
    retained for one swap cycle, and every superseded version survives
    until at least `gc_grace_seconds` AFTER IT WAS SUPERSEDED — the flip
    touches (os.utime) the just-superseded version dir so the grace
    clock starts at supersession, not at build time (a version that
    stayed live for hours is still protected for the full grace once it
    is replaced). A query's version can therefore only disappear if the
    query outlives the grace period, however fast refreshes happen to
    cycle. Size the grace above the store's longest expected query; 0
    restores eager prev-only GC.

    SINGLE-MAINTAINER CONTRACT, enforced: concurrent promoters of the
    same part would race the version numbering, so the swap takes an
    O_EXCL lockfile (`.{part}.swap.lock`) for its critical section and
    raises RuntimeError if another maintainer holds it. A lock older
    than `lock_stale_seconds` is treated as abandoned by a crashed
    maintainer and broken. Writers producing `.new` are outside the
    lock's scope — the contract there is unchanged (one writer per
    part, quiesced ingest during maintenance).

    One-time migration: promoting over a legacy REAL live directory (a
    plain build write) first renames it to a version dir — that single
    transition has the old sub-ms missing-path window, which
    read_parquet_retry covers."""
    import os as _os
    import re as _re
    import shutil as _shutil
    import time as _time
    from pathlib import Path as _Path

    live, new = (_Path(f"{parent_dir}/{part}{s}") for s in ("", ".new"))
    if not new.exists():
        # Validate BEFORE touching live: renaming live aside first and
        # then discovering .new is missing would leave the store with no
        # live dir at all (caught by tests/test_zorder_layout.py).
        raise FileNotFoundError(
            f"{new} does not exist — nothing to promote; live dir untouched"
        )
    parent = _Path(parent_dir)
    with _maintainer_lock(parent_dir, part, lock_stale_seconds):
        vpat = _re.compile(_re.escape(part) + r"\.v(\d+)$")
        versions = {
            int(m.group(1)): parent / d.name
            for d in parent.iterdir()
            if (m := vpat.match(d.name))
        }
        n = max(versions, default=0) + 1
        prev_target: str | None = None
        if live.is_symlink():
            prev_target = _os.readlink(live)
        elif live.exists():
            # Legacy real dir: adopt it as a version so in-flight readers
            # of its (unresolved) path lose it for the shortest possible
            # time.
            legacy = parent / f"{part}.v{n}"
            live.rename(legacy)
            versions[n] = legacy
            prev_target = legacy.name
            n += 1
        vdir = parent / f"{part}.v{n}"
        new.rename(vdir)
        versions[n] = vdir
        _flip_live(parent, part, vdir.name)
        if prev_target is not None:
            # Start the GC grace clock at SUPERSESSION, not build time:
            # without this, a version that stayed live longer than the
            # grace would be GC-eligible the moment it is two flips old,
            # and a reader that pinned it just before two fast refreshes
            # could lose its files mid-scan (ADVICE r9).
            try:
                _os.utime(parent / prev_target)
            except FileNotFoundError:
                pass
        # GC: keep the new version, the one the flip just replaced, and
        # anything still inside the in-flight-reader grace period.
        keep = {vdir.name, prev_target}
        now = _time.time()
        for v in versions.values():
            if v.name in keep:
                continue
            try:
                if now - v.stat().st_mtime < gc_grace_seconds:
                    continue
            except FileNotFoundError:
                continue
            _shutil.rmtree(v, ignore_errors=True)
        # stale .bak from the pre-versioned scheme
        _shutil.rmtree(parent / f"{part}.bak", ignore_errors=True)


def doctor_live_store(
    parent_dir: str,
    repair: bool = False,
    gc_grace_seconds: float = 600.0,
    lock_stale_seconds: float = 3600.0,
) -> list[dict]:
    """fsck for a versioned live-dir store (an inverted/IVFPQ index dir,
    or any parent managed by swap_live_dir/ensure_live_dir): detect —
    and with repair=True, fix — the debris an interrupted maintainer can
    leave behind. Run it as an offline/quiescent maintenance pass (it
    takes each part's maintainer lock for repairs, so it cannot race a
    live maintainer; serving readers are safe throughout because every
    repair preserves the live pointer's target).

    Managed parts are DISCOVERED conservatively: a name participates
    only if it has `{part}.v<N>` version dirs, a `{part}.new` staging
    dir, or a live symlink. Frozen plain-dir layers (an IVFPQ index's
    cells/pq/meta) never match and are never touched.

    Findings (list of {part, kind, path, action} dicts; action is
    "repaired" or "reported"):
    - stranded_new: `{part}.new` left by a maintainer that crashed
      before promoting. Repair: remove (the writer re-creates it).
    - active_lock: a maintainer lock younger than lock_stale_seconds —
      reported only, and ALL repairs for that part are skipped (the
      owner may be alive; re-run after it finishes or goes stale).
    - stale_lock: a lock older than lock_stale_seconds. Repair: remove.
    - broken_symlink: live points at a version that no longer exists.
      Repair: atomically repoint to the highest surviving version
      (readers' retry absorbs the moment); reported-only if no version
      survives (the store needs a rebuild).
    - legacy_real_dir: live is a REAL dir while versioned state also
      exists for the part (a writer predating the versioned scheme
      touched a migrated store). Repair: adopt via ensure_live_dir.
    - orphan_version: a version dir that is not the current target, not
      the immediately-previous version (always retained one cycle), not
      referenced by the snapshot manifest, and older than
      gc_grace_seconds — exactly what swap-time GC would have removed
      had the maintainer survived to its next flip. Repair: remove.
    - stale_manifest: _snapshot.json references a version dir that no
      longer exists (readers already self-heal past it via fallback).
      Repair: re-commit the manifest from the current live pointers.
    - debris: leftover `.{part}.ptr.tmp` / broken-lock temp files.
      Repair: remove.
    """
    import json as _json
    import os as _os
    import re as _re
    import shutil as _shutil
    import time as _time
    from pathlib import Path as _Path

    parent = _Path(parent_dir)
    findings: list[dict] = []

    def note(part: str, kind: str, path: _Path, repaired: bool) -> None:
        findings.append(
            {
                "part": part,
                "kind": kind,
                "path": str(path),
                "action": "repaired" if repaired else "reported",
            }
        )

    vpat = _re.compile(r"^(?P<part>.+)\.v(?P<n>\d+)$")
    versions: dict[str, dict[int, _Path]] = {}
    parts: set[str] = set()
    for e in parent.iterdir():
        m = vpat.match(e.name)
        if m and e.is_dir() and not e.is_symlink():
            parts.add(m.group("part"))
            versions.setdefault(m.group("part"), {})[int(m.group("n"))] = e
        elif e.name.endswith(".new") and e.is_dir():
            parts.add(e.name[: -len(".new")])
        elif e.is_symlink():
            parts.add(e.name)

    manifest_path = parent / _SNAPSHOT_NAME
    manifest_layers: dict[str, str] = {}
    if manifest_path.exists():
        try:
            with open(manifest_path) as f:
                manifest_layers = _json.load(f)["layers"]
        except (ValueError, KeyError):
            manifest_layers = {}
            note("_snapshot", "stale_manifest", manifest_path, False)

    now = _time.time()
    manifest_stale = False
    for part in sorted(parts):
        live = parent / part
        lock = parent / f".{part}.swap.lock"
        lock_age = None
        if lock.exists():
            lock_age = now - lock.stat().st_mtime
            if lock_age <= lock_stale_seconds:
                note(part, "active_lock", lock, False)
                continue  # a live maintainer may own this part

        def fix(kind: str, path: _Path, repair_fn) -> None:
            if repair:
                with _maintainer_lock(parent_dir, part, lock_stale_seconds):
                    repair_fn()
            note(part, kind, path, repair)

        if lock_age is not None:
            fix("stale_lock", lock, lambda: None)  # break = the lock
            # _maintainer_lock already broke + released it during the
            # repair acquisition; in report mode it stays for the owner.
        for tmp in (parent / f".{part}.ptr.tmp",) + tuple(
            parent.glob(f".{part}.swap.lock.broken.*")
        ):
            if tmp.is_symlink() or tmp.exists():
                fix("debris", tmp, lambda t=tmp: t.unlink())
        new = parent / f"{part}.new"
        if new.exists():
            fix(
                "stranded_new",
                new,
                lambda n=new: _shutil.rmtree(n, ignore_errors=True),
            )
        part_versions = versions.get(part, {})
        if live.is_symlink():
            target = _os.readlink(live)
            if not (parent / target).exists():
                if part_versions:
                    best = part_versions[max(part_versions)]
                    fix(
                        "broken_symlink",
                        live,
                        lambda b=best: _flip_live(parent, part, b.name),
                    )
                else:
                    note(part, "broken_symlink", live, False)
        elif live.exists() and part_versions:
            if repair:
                ensure_live_dir(parent_dir, part, lock_stale_seconds)
            note(part, "legacy_real_dir", live, repair)
        elif not live.exists() and part_versions:
            # versions with no live pointer at all (manually deleted):
            # repoint to the highest surviving version
            best = part_versions[max(part_versions)]
            fix(
                "missing_live",
                live,
                lambda b=best: _flip_live(parent, part, b.name),
            )
        # orphan versions: re-read the pointer (repairs above may have
        # changed it)
        current = (
            _os.path.basename(_os.path.realpath(live))
            if live.exists() or live.is_symlink()
            else None
        )
        keep = {current} | set(manifest_layers.values())
        ns = sorted(versions.get(part, {}))
        if ns:
            # the highest version is NEVER an orphan: it is either live
            # or the only rebuild seed left
            keep.add(f"{part}.v{max(ns)}")
        if current in {f"{part}.v{n}" for n in ns} and len(ns) >= 2:
            cur_n = int(current.rsplit(".v", 1)[1])
            prev = [n for n in ns if n < cur_n]
            if prev:
                keep.add(f"{part}.v{max(prev)}")  # always-retained prev
        for n in ns:
            v = parent / f"{part}.v{n}"
            if v.name in keep:
                continue
            try:
                if now - v.stat().st_mtime < gc_grace_seconds:
                    continue
            except FileNotFoundError:
                continue
            fix(
                "orphan_version",
                v,
                lambda vv=v: _shutil.rmtree(vv, ignore_errors=True),
            )

    for lname, vname in manifest_layers.items():
        if not (parent / vname).is_dir():
            manifest_stale = True
            note(lname, "stale_manifest", manifest_path, repair)
    if manifest_stale and repair:
        alive = [
            ln
            for ln in manifest_layers
            if (parent / ln).exists() or (parent / ln).is_symlink()
        ]
        if alive:
            commit_live_snapshot(parent_dir, alive)
    return findings
