"""Scale-strategy queries: the oracle proves the *strategy* changes nothing.

Salting and merge policies alter shuffle distribution / write semantics,
never results — so each strategy query is oracle-checked against the plain
SQL it must be equivalent to. (Bucketed co-located joins are covered in
tests/test_bucketing.py since they need a writable table catalog.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions.localframe import local_frame

from migrate_cassandra_to_mysql_spark.operators.merge import (
    merge_snapshots,
    scd2_apply_increment,
    scd2_init,
    scd2_merge,
)
from migrate_cassandra_to_mysql_spark.operators.skew import salted_join
from migrate_cassandra_to_mysql_spark.plans.registry import register
from migrate_cassandra_to_mysql_spark.sources.parquet import table as T

_REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


# Deliberately skewed join input (r2 VERDICT #7): every 5th lineitem is
# remapped onto order key 1, so ONE key carries ~20% of the fact side —
# the "one giant customer" shape salting exists for. Both the salted and
# the plain twin run the IDENTICAL input and oracle, so the strategy is
# proven invisible in results while bench.py A/Bs their runtimes.
_SKEW_ORACLE = f"""
WITH li AS (SELECT CASE WHEN l_orderkey % 5 = 0 THEN 1 ELSE l_orderkey END AS k,
                   l_extendedprice, l_discount
            FROM lineitem)
SELECT o_orderstatus AS status,
       count(*) AS n_items,
       CAST(sum({_REVENUE}) AS DOUBLE) AS revenue
FROM li JOIN orders ON k = o_orderkey
GROUP BY o_orderstatus
"""


def _skewed_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.select(
        F.when(F.col("l_orderkey") % 5 == 0, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        "l_partkey",
        "l_extendedprice",
        "l_discount",
    )


def _skew_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shuffle_hash hint: at 100 TB the orders side is NOT broadcastable,
    # and skew only matters for shuffled joins — without the hint Spark
    # broadcasts this small test dim and the A/B would measure nothing.
    return (
        T(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .hint("shuffle_hash")
    )


def _skew_agg(joined: DataFrame) -> DataFrame:
    return joined.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr(f"CAST(sum({_REVENUE}) AS DOUBLE)").alias("revenue"),
    )


@register("salted_skew_join", oracle=_SKEW_ORACLE)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-only skew-salted join over a deliberately skewed input (one
    key = ~20% of the fact rows): the known-hot key is spread over 16
    salts; cold keys join untouched with salt 0, so replication overhead
    is |hot_keys| * n_salts build rows, not |orders| * n_salts. The oracle
    is the PLAIN join over the same input — salting must be invisible in
    the results, only in the shuffle distribution. plain_skew_join is the
    unsalted twin bench.py A/Bs against."""
    joined = salted_join(
        _skewed_lineitem(spark, sf_dir),
        _skew_orders(spark, sf_dir),
        "k",
        "o_orderkey",
        n_salts=16,
        hot_keys=[1],
        salt_source="l_partkey",  # cheap per-row variation beats hashing all cols
    )
    return _skew_agg(joined)


@register("plain_skew_join", oracle=_SKEW_ORACLE)
def plain_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unsalted twin of salted_skew_join: identical skewed input,
    identical oracle, ordinary equi-join — its hot key lands on a single
    shuffle partition (the straggler salting removes). Exists so the
    salted-vs-plain comparison is measured, not asserted."""
    li = _skewed_lineitem(spark, sf_dir)
    o = _skew_orders(spark, sf_dir)
    return _skew_agg(li.join(o, li["k"] == o["o_orderkey"]))


# ---------------------------------------------------------------------------
# Heavy skew A/B pair (r4 verdict ask #5): the headline twins above keep a
# mild ~20%-hot input so the bench total stays honest, but at sf0.1 their
# hot partition is a few MB — too small to straggle, so the salted-vs-plain
# gap drowned in noise (1.08-1.14x across r3/r4). This pair makes the
# straggler REAL while staying oracle-checkable: 50% of fact rows remap to
# key 1, AND the build side carries 16 replicas of that key, so the plain
# join's hot shuffle partition must produce |hot_fact| * 16 join rows
# (~4.8M at sf0.1) in ONE task while every other task emits thousands.
# That is exactly the "one giant customer x fan-out dimension" shape that
# motivates salting at 100 TB, scaled down faithfully. bench.py times this
# pair for its skew_ab section; the oracle proves both twins bit-identical.
_HOT_REPS = 16

_SKEW_HEAVY_ORACLE = f"""
WITH li AS (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_orderkey END AS k,
                   l_extendedprice, l_discount
            FROM lineitem),
 dim AS (SELECT o_orderkey, o_orderstatus FROM orders
         UNION ALL
         SELECT o_orderkey, o_orderstatus
         FROM orders, range({_HOT_REPS - 1}) WHERE o_orderkey = 1)
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum({_REVENUE}) AS DOUBLE) AS revenue
FROM li JOIN dim ON k = o_orderkey
GROUP BY o_orderstatus
"""


def _heavy_skewed_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.select(
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        "l_partkey",
        "l_extendedprice",
        "l_discount",
    )


def _heavy_skew_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # orders plus 15 extra replicas of the hot key's row: mirrors the
    # oracle's UNION ALL + range() form. shuffle_hash hint for the same
    # reason as _skew_orders — a broadcast would put the probe on scan
    # partitions (where hot rows are spread evenly by file) and the A/B
    # would measure nothing.
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    hot_reps = (
        o.where(F.col("o_orderkey") == 1)
        .crossJoin(spark.range(_HOT_REPS - 1).select(F.lit(1).alias("_r")))
        .select("o_orderkey", "o_orderstatus")
    )
    return o.unionAll(hot_reps).hint("shuffle_hash")


def _heavy_skew_agg(joined: DataFrame) -> DataFrame:
    return joined.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr(f"CAST(sum({_REVENUE}) AS DOUBLE)").alias("revenue"),
    )


@register("skew_ab_salted", oracle=_SKEW_HEAVY_ORACLE)
def skew_ab_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-only salted join over the heavy-skew input (hot key = 50%
    of fact rows x 16 build replicas): key 1's fact rows spread over 32
    salts, so the ~|hot|*16 join output is produced by 32 parallel tasks
    instead of one. Identical results to skew_ab_plain by oracle."""
    joined = salted_join(
        _heavy_skewed_lineitem(spark, sf_dir),
        _heavy_skew_dim(spark, sf_dir),
        "k",
        "o_orderkey",
        n_salts=32,
        hot_keys=[1],
        salt_source="l_partkey",
    )
    return _heavy_skew_agg(joined)


@register("skew_ab_plain", oracle=_SKEW_HEAVY_ORACLE)
def skew_ab_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsalted twin of skew_ab_salted: the hot key's entire join output
    lands on one shuffle partition — the measured straggler."""
    li = _heavy_skewed_lineitem(spark, sf_dir)
    dim = _heavy_skew_dim(spark, sf_dir)
    return _heavy_skew_agg(li.join(dim, li["k"] == dim["o_orderkey"]))


@register(
    "snapshot_merge_upsert",
    oracle="""
WITH existing AS (
  SELECT o_orderkey AS file_id, o_totalprice AS total, o_orderstatus AS status
  FROM orders),
 incoming AS (
  SELECT o_orderkey AS file_id, o_totalprice + 1000 AS total, 'U' AS status
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000 AS file_id, o_totalprice AS total, 'N' AS status
  FROM orders WHERE o_orderkey % 100 = 0),
 u AS (
  SELECT *, 0 AS src FROM incoming
  UNION ALL
  SELECT *, 1 AS src FROM existing)
SELECT file_id, total, status FROM (
  SELECT *, row_number() OVER (PARTITION BY file_id
                               ORDER BY src, total, status) AS rn
  FROM u) t
WHERE rn = 1
""",
)
def snapshot_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style merge, latest-wins: updated rows replace, new rows insert,
    untouched rows survive — one key-partitioned shuffle
    (operators/merge.py). Complements the reference's first-wins INSERT
    IGNORE refresh."""
    o = T(spark, sf_dir, "orders")
    existing = o.select(
        F.col("o_orderkey").alias("file_id"),
        F.col("o_totalprice").alias("total"),
        F.col("o_orderstatus").alias("status"),
    )
    updates = o.where(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("file_id"),
        (F.col("o_totalprice") + 1000).alias("total"),
        F.lit("U").alias("status"),
    )
    inserts = o.where(F.col("o_orderkey") % 100 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("file_id"),
        F.col("o_totalprice").alias("total"),
        F.lit("N").alias("status"),
    )
    return merge_snapshots(
        existing,
        updates.unionByName(inserts),
        key_cols=["file_id"],
        order_cols=["total", "status"],
        policy="latest_wins",
    )


_SCD2_ORACLE = """
WITH ex AS (
  SELECT o_orderkey AS file_id, o_totalprice AS total, o_orderstatus AS status
  FROM orders),
 inc AS (
  SELECT o_orderkey AS file_id,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
              ELSE o_totalprice END AS total,
         CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END AS status
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice, 'N'
  FROM orders WHERE o_orderkey % 100 = 0),
 j AS (
  SELECT coalesce(ex.file_id, inc.file_id) AS file_id,
         ex.total AS et, ex.status AS es,
         inc.total AS it, inc.status AS i_status,
         ex.file_id IS NOT NULL AS in_ex,
         inc.file_id IS NOT NULL AS in_inc
  FROM ex FULL OUTER JOIN inc ON ex.file_id = inc.file_id),
 t1 AS (SELECT TIMESTAMP '2026-01-01 00:00:00' AS v),
 t2 AS (SELECT TIMESTAMP '2026-02-01 00:00:00' AS v)
SELECT file_id, et AS total, es AS status,
       (SELECT v FROM t1) AS valid_from, (SELECT v FROM t2) AS valid_to,
       CAST(FALSE AS BOOLEAN) AS is_current
FROM j WHERE in_ex AND in_inc AND (et <> it OR es <> i_status)
UNION ALL
SELECT file_id, it, i_status, (SELECT v FROM t2), NULL, TRUE
FROM j WHERE in_ex AND in_inc AND (et <> it OR es <> i_status)
UNION ALL
SELECT file_id, et, es, (SELECT v FROM t1), NULL, TRUE
FROM j WHERE in_ex AND in_inc AND NOT (et <> it OR es <> i_status)
UNION ALL
SELECT file_id, it, i_status, (SELECT v FROM t2), NULL, TRUE
FROM j WHERE NOT in_ex
UNION ALL
SELECT file_id, et, es, (SELECT v FROM t1), (SELECT v FROM t2), FALSE
FROM j WHERE NOT in_inc
"""


@register("scd2_order_history", oracle=_SCD2_ORACLE)
def scd2_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history from two snapshot generations (t1/t2 are
    deterministic stamps): changed keys close their old version and open
    a new one, deletions close, inserts open — one full-outer shuffle
    join + a map-side 1-or-2-element explode (operators/merge.scd2_merge).
    The history story the reference's INSERT IGNORE refresh cannot
    express; pairs with snapshot_merge_upsert (latest state) and
    snapshot_cdc_diff (changed-key report)."""
    o = T(spark, sf_dir, "orders")
    existing = o.select(
        F.col("o_orderkey").alias("file_id"),
        F.col("o_totalprice").alias("total"),
        F.col("o_orderstatus").alias("status"),
    )
    incoming = (
        o.where(F.col("o_orderkey") % 13 != 0)
        .select(
            F.col("o_orderkey").alias("file_id"),
            F.when(
                F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1000
            )
            .otherwise(F.col("o_totalprice"))
            .alias("total"),
            F.when(F.col("o_orderkey") % 10 == 0, F.lit("U"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
        )
        .unionByName(
            o.where(F.col("o_orderkey") % 100 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("file_id"),
                F.col("o_totalprice").alias("total"),
                F.lit("N").alias("status"),
            )
        )
    )
    return scd2_merge(
        existing,
        incoming,
        key_cols=["file_id"],
        tracked_cols=["total", "status"],
        t1="2026-01-01 00:00:00",
        t2="2026-02-01 00:00:00",
    )


_T1, _T2, _T3 = (
    "TIMESTAMP '2026-01-01 00:00:00'",
    "TIMESTAMP '2026-02-01 00:00:00'",
    "TIMESTAMP '2026-03-01 00:00:00'",
)


def _scd2_inc_step(prev: str, snap: str, t_new: str, idx: int) -> str:
    """One scd2_apply_increment fold as SQL CTEs (cur{i}/j{i}/h{i}) —
    generated so the oracle applies the IDENTICAL increment rule at every
    generation instead of hand-duplicating six UNION branches per step."""
    chg = "(et <> it OR es <> i_status)"
    return f"""cur{idx} AS (SELECT * FROM {prev} WHERE is_current),
 j{idx} AS (
   SELECT coalesce(c.file_id, s.file_id) AS file_id,
          c.total AS et, c.status AS es, c.valid_from AS ef,
          s.total AS it, s.status AS i_status,
          c.file_id IS NOT NULL AS in_ex, s.file_id IS NOT NULL AS in_inc
   FROM cur{idx} c FULL OUTER JOIN {snap} s ON c.file_id = s.file_id),
 h{idx} AS (
   SELECT file_id, total, status, valid_from, valid_to, is_current
   FROM {prev} WHERE NOT is_current
   UNION ALL
   SELECT file_id, et, es, ef, {t_new}, CAST(FALSE AS BOOLEAN)
   FROM j{idx} WHERE in_ex AND in_inc AND {chg}
   UNION ALL
   SELECT file_id, it, i_status, {t_new}, CAST(NULL AS TIMESTAMP), TRUE
   FROM j{idx} WHERE in_ex AND in_inc AND {chg}
   UNION ALL
   SELECT file_id, et, es, ef, CAST(NULL AS TIMESTAMP), TRUE
   FROM j{idx} WHERE in_ex AND in_inc AND NOT {chg}
   UNION ALL
   SELECT file_id, it, i_status, {t_new}, CAST(NULL AS TIMESTAMP), TRUE
   FROM j{idx} WHERE NOT in_ex
   UNION ALL
   SELECT file_id, et, es, ef, {t_new}, CAST(FALSE AS BOOLEAN)
   FROM j{idx} WHERE NOT in_inc)"""


def _scd2_incremental_oracle() -> str:
    s1 = """s1 AS (
  SELECT o_orderkey AS file_id, o_totalprice AS total,
         o_orderstatus AS status
  FROM orders)"""
    s2 = """s2 AS (
  SELECT o_orderkey AS file_id,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
              ELSE o_totalprice END AS total,
         CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END AS status
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice, 'N'
  FROM orders WHERE o_orderkey % 100 = 0)"""
    s3 = """s3 AS (
  SELECT o_orderkey AS file_id,
         (CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
               ELSE o_totalprice END)
         + (CASE WHEN o_orderkey % 7 = 0 THEN 500 ELSE 0 END) AS total,
         CASE WHEN o_orderkey % 7 = 0 THEN 'V'
              WHEN o_orderkey % 10 = 0 THEN 'U'
              ELSE o_orderstatus END AS status
  FROM orders WHERE o_orderkey % 13 <> 0 AND o_orderkey % 11 <> 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, 'R'
  FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice, 'N'
  FROM orders WHERE o_orderkey % 100 = 0 AND o_orderkey % 11 <> 0)"""
    h1 = f"""h1 AS (
  SELECT file_id, total, status, {_T1} AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
  FROM s1)"""
    return (
        "WITH "
        + ",\n ".join(
            [
                s1,
                s2,
                s3,
                h1,
                _scd2_inc_step("h1", "s2", _T2, 2),
                _scd2_inc_step("h2", "s3", _T3, 3),
            ]
        )
        + "\nSELECT file_id, total, status, valid_from, valid_to, is_current"
        + "\nFROM h3"
    )


@register("scd2_incremental_history", oracle=_scd2_incremental_oracle())
def scd2_incremental_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-generation SCD2 fold (VERDICT r5 ask #8): three snapshot
    generations accrete into one history via scd2_init + two
    scd2_apply_increment folds. Exercises every transition the
    incremental operator supports: value updates (%10 then %7 keys),
    deletes (%13 at g2, %11 at g3), inserts (+10M keys at g2), and —
    the path scd2_merge alone cannot express — RE-INSERTS (%13-even
    keys return at g3 with status 'R' after being deleted at g2: their
    g1 row stays closed, a fresh open version starts at t3). The oracle
    GENERATES the same increment rule as SQL CTEs per generation, so
    the fold itself — not just one step — is differentially verified.
    Closed rows never re-shuffle: each increment joins only the current
    slice against the new snapshot (operators/merge.scd2_apply_increment
    scale note).

    Read amplification (VERDICT r11 #2): each generation frame is
    re-referenced by the next increment (closed passthrough + current
    slice), and the snapshot frames reference orders 1-3 times each —
    un-checkpointed, the executed plan read orders NINE times. In
    production each generation is materialized to storage between
    merges; inside one chained plan the equivalent is an eager
    localCheckpoint on the narrow orders projection (all three
    synthetic snapshots derive from it) and on every generation frame
    (which ALSO truncates the O(N^2)-join lineage growth the persist
    alone only partially contained). Executed plan now scans orders
    exactly ONCE."""
    o = (
        T(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .localCheckpoint(eager=True)
    )
    key = F.col("o_orderkey")
    tp, st = F.col("o_totalprice"), F.col("o_orderstatus")
    s1 = o.select(
        key.alias("file_id"), tp.alias("total"), st.alias("status")
    )
    total2 = F.when(key % 10 == 0, tp + 1000).otherwise(tp)
    status2 = F.when(key % 10 == 0, F.lit("U")).otherwise(st)
    inserts = o.where(key % 100 == 0).select(
        (key + 10000000).alias("file_id"),
        tp.alias("total"),
        F.lit("N").alias("status"),
    )
    s2 = (
        o.where(key % 13 != 0)
        .select(key.alias("file_id"), total2.alias("total"), status2.alias("status"))
        .unionByName(inserts)
    )
    total3 = total2 + F.when(key % 7 == 0, F.lit(500)).otherwise(F.lit(0))
    status3 = F.when(key % 7 == 0, F.lit("V")).otherwise(status2)
    s3 = (
        o.where((key % 13 != 0) & (key % 11 != 0))
        .select(key.alias("file_id"), total3.alias("total"), status3.alias("status"))
        .unionByName(
            o.where((key % 13 == 0) & (key % 2 == 0)).select(
                key.alias("file_id"), tp.alias("total"), F.lit("R").alias("status")
            )
        )
        .unionByName(inserts.where(key % 11 != 0))
    )
    keys, tracked = ["file_id"], ["total", "status"]
    h1 = scd2_init(s1, keys, tracked, "2026-01-01 00:00:00").localCheckpoint(
        eager=True
    )
    h2 = scd2_apply_increment(
        h1, s2, keys, tracked, "2026-02-01 00:00:00"
    ).localCheckpoint(eager=True)
    return scd2_apply_increment(h2, s3, keys, tracked, "2026-03-01 00:00:00")


def _pagerank_oracle(n_iter: int = 5) -> str:
    """DuckDB twin of operators/components.pagerank over the part
    co-purchase graph: the same power iterations unrolled as generated
    CTEs (like the SCD2 incremental oracle), with the identical
    determinism contract — contributions rounded to 12 dp and summed as
    DECIMAL, damping constants combined with the same IEEE ops."""
    d = "CAST(0.85 AS DOUBLE)"
    ctes = [
        """items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
           FROM lineitem),
 pairs AS (SELECT DISTINCT i1.p AS src, i2.p AS dst
           FROM items i1 JOIN items i2 ON i1.ok = i2.ok AND i1.p <> i2.p),
 outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS n_out
            FROM pairs GROUP BY src),
 nodes AS (SELECT src AS node FROM pairs
           UNION SELECT dst FROM pairs),
 n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
 r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n.n_nodes AS pr FROM nodes, n)"""
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""c{i} AS (SELECT p.dst,
            sum(CAST(round(r.pr / o.n_out, 12) AS DECIMAL(28,12))) AS s
        FROM pairs p
        JOIN r{i - 1} r ON p.src = r.node
        JOIN outdeg o ON p.src = o.src
        GROUP BY p.dst),
 r{i} AS (SELECT nodes.node,
            (CAST(1.0 AS DOUBLE) - {d}) / n.n_nodes
            + {d} * coalesce(CAST(c{i}.s AS DOUBLE), CAST(0.0 AS DOUBLE))
              AS pr
          FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.dst, n)"""
        )
    return (
        "WITH "
        + ",\n ".join(ctes)
        + f"""
SELECT r{n_iter}.node AS part_id,
       coalesce(o.n_out, CAST(0 AS BIGINT)) AS n_out,
       round(r{n_iter}.pr, 8) AS pagerank
FROM r{n_iter} LEFT JOIN outdeg o ON r{n_iter}.node = o.src
"""
    )


def _directed_copurchase_pairs(
    spark: SparkSession, sf_dir: str, timings: dict | None = None
):
    """The checkpointed directed co-purchase edge frame (src, dst)
    shared by the pagerank and personalized-pagerank rows (hoisted
    late-r12 — the two plans carried byte-identical copies that had to
    be fixed in lockstep once already, mirroring _und_edges for the
    undirected rows).

    BUCKETED PRE-AGGREGATION (r14 — the r13 VERDICT ask #1 rework):
    the original form self-joined a distinct (ok, p) frame on ok and
    deduped the pair stream; its superlinearity at sf5 (pair dedup
    7.9 -> 63.5s, 8.0x at 5.0x edges) was r13-attributed to a
    fixed-heap storage cliff, but the r14 falsification A/B REFUTED
    that: at a 24g heap the evictions disappear and the ratio stays
    8.33x (BENCH_r14_local.json ppr_split_ab) — the real term was the
    sort-merge self-join's two external sorts (tens of millions of
    rows per task at a fixed local task count: n log n plus spill IO,
    heap-insensitive, exactly matching the A/B). The rework removes
    the self-join entirely: ONE hash aggregation buckets lineitem into
    per-order item sets (collect_set — the same exchange volume the
    old distinct already paid, no sorts), then the ordered pairs
    explode MAP-SIDE from each basket via two generates — per-order
    fan-out is width^2, bounded by basket size (<= 7 parts/order on
    this generator; at 100 TB basket width is a domain constant, so
    the explode is linear in orders). Measured (BENCH_r14_local.json
    ppr_split_ab): the dedup COMPUTE (shuffle + hash agg) now scales
    3.8x at 5.0x edges — sub-linear, the algorithmic term is gone —
    and the sf5 chain total dropped from r13's 174.5s to 143-160s.
    The remaining phase superlinearity (~9x) was isolated by a
    decomposition probe to the eager localCheckpoint's ROW
    MATERIALIZATION of the 120M-edge frame (~30s at sf5), insensitive
    to heap size (8g vs 24g: evictions vanish, time does not) AND to
    every StorageLevel — the deserialized-row block store itself. So
    the materialization was REPLACED with a tmp-parquet roundtrip
    (see the in-body comment): columnar write linear at 4.8x,
    serving reads 4.0 -> 0.16s, every chain phase now
    linear-or-better at 5x edges. The frame still materializes once —
    it feeds every loop round plus the outdeg/node builds
    (un-materialized, the whole build re-executes per reference).

    Pair dedup then repartitions by the pair key across many tasks
    BEFORE aggregating (a low shuffle-partition setting would hold a
    multi-million-entry hash map per task; the sf1 smoke OOM'd a 1 GB
    driver exactly there), costing no extra exchange since it
    satisfies the aggregation's distribution requirement. The edge
    list is re-referenced by every loop round and the callers'
    outdeg/node builds — checkpointed so the basket agg + explode +
    dedup run once. The edge SET is identical to the self-join form's
    (pinned by the unchanged DuckDB oracles and
    tests/test_r14_ops.py's form-equivalence test), so every pagerank/
    ppr value is bit-identical."""
    import time as _time

    from migrate_cassandra_to_mysql_spark.plans._work import memo, workdir

    def _build() -> str:
        t0 = _time.perf_counter()
        li = T(spark, sf_dir, "lineitem")
        baskets = (
            li.select(
                F.col("l_orderkey").alias("ok"),
                F.col("l_partkey").alias("p"),
            )
            .groupBy("ok")
            .agg(F.collect_set("p").alias("ps"))
        )
        t1 = _time.perf_counter()
        # Dedup width derives from the INPUT VOLUME, not the local core
        # count (optimization guide §2: scale-dependent partitioning must
        # adapt to data size; the old defaultParallelism*8 = 256 was a
        # constant tuned for neither scale — at sf0.1 it sprayed 2.4M
        # pairs over 256 tiny tasks/files and every downstream consumer
        # (seeds, the 5 pagerank/ppr loop rounds) then launched 256
        # near-empty tasks per scan). Target bytes of source lineitem
        # per dedup partition, env-tunable: the 8 MB local default keeps
        # each task's dedup hash map around a million pair entries (the
        # sf1 smoke OOM'd a 1 GB driver when the whole pair set hit one
        # map; sf5 lands ~128 partitions, the same family as the 256 the
        # sf5 chain ran safely) — a production deployment sets
        # SPARK_GRAFT_DEDUP_PART_BYTES to ~256 MB so a 100 TB input gets
        # ~400k partitions instead of 12.5M (guide §2.2: block-count
        # growth). The floor stays the cluster's parallelism so small
        # inputs still use every core. Relation stats are driver-side
        # file metadata — no Spark job runs to size this.
        import os as _os

        per_part = int(
            _os.environ.get("SPARK_GRAFT_DEDUP_PART_BYTES", 8 << 20)
        )
        # The stats call touches JVM internals; if the relation ever
        # lacks file-backed stats (non-parquet source, a future Spark
        # changing defaultSizeInBytes semantics) the estimate is ~8 EB
        # and the width would hit the 2^20 cap — a million-partition
        # shuffle (r14 ADVICE). Fall back to the old CPU-derived
        # constant on any failure, and treat an over-cap estimate as
        # "stats are nonsense", not as a real 8 EB input.
        dp = spark.sparkContext.defaultParallelism
        try:
            li_bytes = int(
                li._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            n_dedup = li_bytes // per_part
            if n_dedup > (1 << 20):
                n_dedup = dp * 8
        except Exception:
            n_dedup = dp * 8
        n_dedup = max(dp, n_dedup)
        out = workdir("mc2m_copurchase_pairs_") + "/pairs"
        # n_out (each src's out-degree over the DEDUPED edge set) is
        # precomputed into the parquet (r15, guide §2.4): every
        # pagerank/ppr call used to rebuild it with an edge-sized
        # aggregation + SortMergeJoin (two exchanges + two sorts of
        # the edge frame, measured 2.7s of the 21s sf0.1 PPR row) —
        # one count-window at build time, riding a single src
        # exchange, serves every consumer. Identical values by
        # construction (outdeg IS the per-src row count; pinned by
        # tests/test_pagerank.py and the unchanged oracles).
        from pyspark.sql import Window as _W

        (
            baskets.select(F.explode("ps").alias("src"), "ps")
            .select(
                "src",
                F.explode(F.expr("filter(ps, y -> y != src)")).alias(
                    "dst"
                ),
            )
            .repartition(n_dedup, "src", "dst")
            .dropDuplicates()
            .withColumn(
                "n_out",
                F.count(F.lit(1))
                .over(_W.partitionBy("src"))
                .cast("long"),
            )
            .write.mode("overwrite")
            .parquet(out)
        )
        if timings is not None:  # split-timer hook (ppr_split_probe.py)
            timings["basket_agg_sec"] = round(t1 - t0, 2)
            timings["pair_dedup_sec"] = round(
                _time.perf_counter() - t1, 2
            )
        return out

    # Materialization is a TMP-PARQUET roundtrip, not a localCheckpoint
    # (r14): the r14 decomposition probe isolated the chain's last
    # superlinear term to the checkpoint's deserialized-row block
    # store (5.95 -> 53.3s at 5x edges, insensitive to heap and to
    # every StorageLevel); the columnar write is LINEAR (5.8 -> 28.0s,
    # 4.8x at 5.0x edges) and serving reads drop 4.0 -> 0.16s because
    # compressed column pages replace partially-evicted row blocks
    # (BENCH_r14_local.json ppr_split_ab). This is also exactly what a
    # cluster deployment does — a reliable checkpoint to distributed
    # storage. memo() keys the build per sf_dir (the codebook
    # discipline): pagerank + ppr + both probe phases share ONE build
    # per process, and the re-read wraps the CURRENT session.
    path = memo(("copurchase_pairs_pq", sf_dir), _build)
    return spark.read.parquet(path)


@register("part_copurchase_pagerank", oracle=_pagerank_oracle())
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts are linked when
    some order contains both): 5 synchronous power iterations, damping
    0.85 — the iterative-graph family member beyond min-label connected
    components, ranking parts by co-purchase centrality (the
    recommendation / importance primitive).

    Scale shape: pair expansion is bounded by order width (TPC-H orders
    hold <= 7 items, so the self-join on l_orderkey fans out O(49) per
    order — never quadratic in the table); the iteration loop shuffles
    only (node, rank) pairs against a persisted (src, dst, outdeg) edge
    frame with O(1)-deep lineage; N rides as a broadcast 1-row aggregate.
    Determinism: 12-dp DECIMAL contribution sums make every iteration
    bit-reproducible under any partitioning (oracle-identical with zero
    float tolerance).
    """
    from migrate_cassandra_to_mysql_spark.operators.components import pagerank

    pairs = _directed_copurchase_pairs(spark, sf_dir)
    ranks = pagerank(pairs, n_iter=5, damping=0.85, outdeg_col="n_out")
    outdeg = pairs.select("src", "n_out").dropDuplicates(["src"])
    return ranks.join(outdeg, ranks["node"] == outdeg["src"], "left").select(
        F.col("node").alias("part_id"),
        F.coalesce("n_out", F.lit(0).cast("long")).alias("n_out"),
        F.round("rank", 8).alias("pagerank"),
    )


def _ppr_oracle(n_iter: int = 5, n_seeds: int = 3) -> str:
    """DuckDB twin of operators/components.personalized_pagerank over
    the part co-purchase graph: the same seeded power iterations
    unrolled as generated CTEs, with the pagerank determinism contract
    (12-dp DECIMAL contribution sums; teleport combined with the same
    IEEE ops). Seeds are the n_seeds smallest node ids — deterministic
    and scale-stable (the query-sized seed-set contract)."""
    d = "CAST(0.85 AS DOUBLE)"
    ctes = [
        f"""items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
           FROM lineitem),
 pairs AS (SELECT DISTINCT i1.p AS src, i2.p AS dst
           FROM items i1 JOIN items i2 ON i1.ok = i2.ok AND i1.p <> i2.p),
 outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS n_out
            FROM pairs GROUP BY src),
 nodes AS (SELECT src AS node FROM pairs
           UNION SELECT dst FROM pairs),
 seeds AS (SELECT node FROM nodes ORDER BY node LIMIT {n_seeds}),
 ns AS (SELECT CAST(count(*) AS BIGINT) AS n_seeds FROM seeds),
 t AS (SELECT nodes.node,
              CASE WHEN s.node IS NOT NULL
                   THEN CAST(1.0 AS DOUBLE) / ns.n_seeds
                   ELSE CAST(0.0 AS DOUBLE) END AS tp,
              CASE WHEN s.node IS NOT NULL
                   THEN (CAST(1.0 AS DOUBLE) - {d}) / ns.n_seeds
                   ELSE CAST(0.0 AS DOUBLE) END AS tp_upd
       FROM nodes LEFT JOIN seeds s ON nodes.node = s.node, ns),
 r0 AS (SELECT node, tp AS pr FROM t)"""
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""c{i} AS (SELECT p.dst,
            sum(CAST(round(r.pr / o.n_out, 12) AS DECIMAL(28,12))) AS s
        FROM pairs p
        JOIN r{i - 1} r ON p.src = r.node
        JOIN outdeg o ON p.src = o.src
        GROUP BY p.dst),
 r{i} AS (SELECT t.node,
            t.tp_upd
            + {d} * coalesce(CAST(c{i}.s AS DOUBLE), CAST(0.0 AS DOUBLE))
              AS pr
          FROM t LEFT JOIN c{i} ON t.node = c{i}.dst)"""
        )
    return (
        "WITH "
        + ",\n ".join(ctes)
        + f"""
SELECT r{n_iter}.node AS part_id,
       CAST(CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_seed,
       round(r{n_iter}.pr, 8) AS ppr
FROM r{n_iter} LEFT JOIN seeds s ON r{n_iter}.node = s.node
"""
    )


def _smallest_nodes(spark: SparkSession, pairs: DataFrame, n: int = 3):
    """The n smallest node ids of the (src, dst) edge frame, as a
    query-sized local DataFrame — via n successive 1-row MIN aggregates
    over the checkpointed edges (each endpoint column filtered
    independently, so a node whose only partner is an earlier pick is
    still seen). Control-plane jobs over executor-local blocks: three
    map-side minima shuffle NOTHING. The r13 split-timer probe measured
    the previous union-distinct + TakeOrdered form at 3.5s -> 55.1s
    (15.6x) at 5x edges — it shuffled every edge endpoint to
    deduplicate 2|E| rows down to |V|, all to pick 3 ids. Values are
    exact integers, bit-identical to the distinct form (pinned by
    tests/test_pagerank.py::test_smallest_nodes_equals_distinct_form).
    Shared by the part_copurchase_ppr row and tools/ppr_split_probe.py
    so the probe times the exact catalog chain."""
    mins: list[int] = []
    lo = None
    for _ in range(n):
        above = (
            F.col("src") if lo is None else
            F.when(F.col("src") > lo, F.col("src"))
        )
        above_d = (
            F.col("dst") if lo is None else
            F.when(F.col("dst") > lo, F.col("dst"))
        )
        lo = pairs.agg(
            F.least(F.min(above), F.min(above_d)).alias("m")
        ).collect()[0]["m"]
        if lo is None:  # fewer than n distinct nodes: return what exists
            break
        mins.append(int(lo))
    return local_frame(spark, [(m,) for m in mins], "node long")


@register("part_copurchase_ppr", oracle=_ppr_oracle())
def part_copurchase_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random-walk-with-restart) over the part
    co-purchase graph, seeded at the 3 smallest part ids: 5 synchronous
    power iterations, damping 0.85, teleport mass restarting at the
    SEED set instead of uniformly. The query-dependent affinity member
    of the graph family — global pagerank ranks parts by overall
    centrality; this ranks them by proximity to a context (the
    "customers who bought X also bought" recommendation primitive,
    Tong et al. 2006 RWR).

    Scale shape: identical to part_copurchase_pagerank — the
    single-scan checkpointed edge build (items feeds both sides of the
    pair self-join ONCE), pair dedup partitioned wide before
    aggregation, and a loop that shuffles only (node, rank) pairs
    against the persisted edge frame with O(1)-deep lineage. The seed
    set is query-sized by contract and rides as a broadcast join; at
    100 TB the walk frontier is the same node-sized state as global
    pagerank — personalization changes the teleport vector, not the
    data movement. Determinism: 12-dp DECIMAL contribution sums,
    oracle-identical with zero float tolerance.
    """
    from migrate_cassandra_to_mysql_spark.operators.components import (
        personalized_pagerank,
    )

    pairs = _directed_copurchase_pairs(spark, sf_dir)
    # The distinct node set is built ONCE here (r15, guide §2.4) and
    # serves BOTH the seed pick and the operator's final sparse-to-
    # dense expansion (passed via nodes=): the previous chain paid the
    # edge-wide union-distinct inside the operator AND three separate
    # full-scan min-aggregate jobs for the seeds (3.3s of the 21s
    # sf0.1 row). The 3 smallest ids off the checkpointed node set are
    # one TakeOrdered over executor-local blocks — identical values
    # (tests/test_pagerank.py::test_smallest_nodes_equals_distinct_form
    # pins the min-agg form against exactly this distinct form).
    nodes = (
        pairs.select(F.col("src").alias("node"))
        .union(pairs.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seeds = nodes.orderBy("node").limit(3).select("node")
    # broadcast_frontier: the 3-seed walk's frontier is bounded by the
    # seed-reachable component (query-local by construction), so each
    # round scans the persisted edge frame once instead of shuffling it
    # — measured 15.4 -> 4.8s for the 5-round loop on the 24M-edge
    # 10-copy graph; results bit-identical (DECIMAL sums are
    # order-independent; pinned by tests/test_pagerank.py::
    # test_ppr_broadcast_frontier_equals_default, with the row-cap
    # fallback pinned by its _row_cap_fallback twin).
    ranks = personalized_pagerank(
        pairs,
        seeds,
        n_iter=5,
        damping=0.85,
        broadcast_frontier=True,
        outdeg_col="n_out",
        nodes=nodes,
    )
    return ranks.join(
        F.broadcast(seeds.withColumn("flag", F.lit(1))), "node", "left"
    ).select(
        F.col("node").alias("part_id"),
        F.coalesce("flag", F.lit(0)).cast("long").alias("is_seed"),
        F.round("rank", 8).alias("ppr"),
    )


# Triangle counting constants: the co-purchase graph keeps only edges
# with support >= _TRI_SUPPORT (pairs bought together in at least that
# many distinct orders). The support cut is the standard market-basket
# pruning AND the scale bound: random co-occurrence grows with the
# corpus but REPEATED co-occurrence stays rare (measured: 116k raw
# pairs -> 3.4k support>=2 edges at sf0.01, 1.2M -> 3.6k at sf0.1), so
# the triangle phase runs on a near-constant-density signal graph.
_TRI_SUPPORT = 2


def _triangles_oracle() -> str:
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
               FROM lineitem),
 und AS (SELECT a.p AS a, b.p AS b
         FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
         GROUP BY 1, 2 HAVING count(*) >= {_TRI_SUPPORT}),
 deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
         FROM (SELECT a AS n FROM und
               UNION ALL SELECT b AS n FROM und) t
         GROUP BY n),
 ori AS (SELECT CASE WHEN (da.d, u.a) < (db.d, u.b)
                     THEN u.a ELSE u.b END AS src,
                CASE WHEN (da.d, u.a) < (db.d, u.b)
                     THEN u.b ELSE u.a END AS dst,
                CASE WHEN (da.d, u.a) < (db.d, u.b)
                     THEN db.d ELSE da.d END AS dst_d
         FROM und u
         JOIN deg da ON da.n = u.a
         JOIN deg db ON db.n = u.b),
 wedge AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
           FROM ori e1 JOIN ori e2 ON e1.src = e2.src
           WHERE (e1.dst_d, e1.dst) < (e2.dst_d, e2.dst)),
 tri AS (SELECT wedge.u, wedge.v, wedge.w
         FROM wedge JOIN ori e3
           ON e3.src = wedge.v AND e3.dst = wedge.w)
SELECT part_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM (SELECT u AS part_id FROM tri
      UNION ALL SELECT v FROM tri
      UNION ALL SELECT w FROM tri) x
GROUP BY part_id
ORDER BY n_triangles DESC, part_id
LIMIT 20
"""


@register("part_copurchase_triangles", oracle=_triangles_oracle())
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered triangle counting over the support-pruned part
    co-purchase graph: parts are linked when >= 2 distinct orders
    contain both, and each part is ranked by how many co-purchase
    triangles it participates in (top-20) — the cluster-coefficient /
    community-density primitive beside pagerank (global centrality)
    and connected components (reachability) in the graph family.

    Scale shape — each step is the technique a 100 TB graph needs:
    1. Pair expansion is bounded by order width (<= 7 items per TPC-H
       order, O(49) pairs per order, never quadratic in lineitem); the
       support cut then shrinks the graph to repeated-signal edges
       (measured near-constant ~3.5k edges from sf0.01 to sf0.1 while
       raw pairs grew 10x).
    2. Edges are ORIENTED from lower to higher (degree, id) rank — the
       classic wedge-bounding trick (Schank/Wagner; cf. Suri-Vassilvitskii
       MapReduce triangles): every out-neighborhood is O(sqrt(m)), so
       wedge volume is O(m^1.5) worst-case instead of sum(deg^2), and
       each triangle is generated EXACTLY once from its lowest-rank
       apex (no /3 correction, no duplicate pairs).
    3. The wedge build is one self-equi-join on the apex; closure is
       one equi-join of (v, w) against the oriented edge list — all
       shuffles are edge-sized, nothing touches lineitem again.
    The pruned edge frame and its orientation are re-referenced 2-3
    times downstream (deg from und; e1/e2/e3 from ori), so both are
    EAGERLY localCheckpoint'ed: without that, Catalyst inlines the
    whole lineitem self-join once per reference (first cut of this plan
    measured 184 exchanges / 45 broadcast joins; checkpointed it's the
    wedge+closure+rollup core only) — the pagerank/MMR lineage
    discipline, affordable because the support cut makes both frames
    KB-sized at any corpus scale.
    Determinism: counts are exact integers; rank ties inside the
    orientation break on node id, so the oriented edge set — and hence
    every wedge — is identical in both engines.
    """
    # r14 optimization: the support-pruned undirected edge frame is the
    # IDENTICAL construction _und_edges memoizes for the kcore/BFS/LPA/
    # link-prediction rows (same _TRI_SUPPORT cut, same (a, b) columns,
    # pinned by the unchanged oracle) — share the one per-process build
    # instead of re-running the fact-scale items-distinct + self-join
    # chain here. The frame is the KB-sized signal graph read back from
    # its tmp-parquet checkpoint, so the 2-3 downstream re-scans (deg +
    # both orientation joins) each read a few compressed pages.
    und = _und_edges(spark, sf_dir)
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    lower = F.struct(F.col("da"), F.col("a")) < F.struct(
        F.col("db"), F.col("b")
    )
    ori = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(lower, F.col("db")).otherwise(F.col("da")).alias("dst_d"),
        )
        .localCheckpoint(eager=True)
    )
    e1 = ori.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.col("dst_d").alias("vd"),
    )
    e2 = ori.select(
        F.col("src").alias("u"),
        F.col("dst").alias("w"),
        F.col("dst_d").alias("wd"),
    )
    wedge = (
        e1.join(e2, "u")
        .where(
            F.struct(F.col("vd"), F.col("v"))
            < F.struct(F.col("wd"), F.col("w"))
        )
        .select("u", "v", "w")
    )
    e3 = ori.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedge.join(e3, ["v", "w"]).select("u", "v", "w")
    return (
        tri.select(F.col("u").alias("part_id"))
        .unionAll(tri.select(F.col("v")))
        .unionAll(tri.select(F.col("w")))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("part_id"))
        .limit(20)
    )


def _assoc_oracle() -> str:
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
               FROM lineitem),
 n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
 cnt AS (SELECT p, CAST(count(*) AS BIGINT) AS np FROM items GROUP BY p),
 pr AS (SELECT a.p AS part_a, b.p AS part_b, CAST(count(*) AS BIGINT) AS support
        FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= {_TRI_SUPPORT})
SELECT part_a, part_b, support,
       round(CAST(support AS DOUBLE) / ca.np, 8) AS conf_ab,
       round(CAST(support AS DOUBLE) / cb.np, 8) AS conf_ba,
       round(CAST(support * n.n_orders AS DOUBLE)
             / CAST(ca.np * cb.np AS DOUBLE), 8) AS lift
FROM pr
JOIN cnt ca ON ca.p = pr.part_a
JOIN cnt cb ON cb.p = pr.part_b
CROSS JOIN n
ORDER BY lift DESC, part_a, part_b
LIMIT 20
"""


@register("copurchase_association_rules", oracle=_assoc_oracle())
def copurchase_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over part co-purchases: for every
    support>={_TRI_SUPPORT} pair, directional confidence
    P(b|a) = support/n_a (and P(a|b)) plus lift =
    support*N / (n_a*n_b), top-20 by lift — the frequent-itemset
    primitive (Agrawal-Srikant Apriori's rule stage) beside the graph
    family's structural views of the same pair data.

    Scale shape: pair expansion bounded by order width (O(49)/order),
    support cut before anything joins (the Apriori downward-closure
    idea: only frequent pairs reach the rule stage — measured ~3.5k
    pairs at both sf0.01 and sf0.1); item counts partial-aggregate and
    join the PRUNED pair set (two KB-sized equi-joins), N rides as a
    1-row broadcast; the only ordered exchange is TakeOrdered(20).
    Determinism: every metric is a ratio of exact BIGINTs evaluated
    with shared expression text — identical IEEE division in both
    engines — and the (lift, part_a, part_b) order is total.
    """
    li = T(spark, sf_dir, "lineitem")
    # items feeds n and cnt — two downstream references that would each
    # inline the lineitem scan + distinct (the sparse-cosine/triangle
    # lesson): eager localCheckpoint caps it at ONE lineitem scan,
    # materializing the distinct order-item projection once.
    items = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = items.agg(
        F.countDistinct("ok").cast("long").alias("n_orders")
    )
    cnt = items.groupBy("p").agg(
        F.count(F.lit(1)).cast("long").alias("np")
    )
    # The support-cut pair aggregation is construction-identical to the
    # memoized _und_edges build (same self-join on ok, same a < b
    # predicate, same HAVING count >= _TRI_SUPPORT — the memo keeps the
    # count as `support` exactly so this row can reuse it, r15 guide
    # §2.4): one fact-scale pair pass per process now serves the five
    # graph rows AND the rule stage, instead of this row re-running it.
    # The oracle is unchanged — the pruned pair set and counts are the
    # same multiset either way.
    pr = _und_edges(spark, sf_dir).select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        "support",
    )
    ca = cnt.select(F.col("p").alias("part_a"), F.col("np").alias("na"))
    cb = cnt.select(F.col("p").alias("part_b"), F.col("np").alias("nb"))
    return (
        pr.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "support",
            F.expr("round(CAST(support AS DOUBLE) / na, 8)").alias(
                "conf_ab"
            ),
            F.expr("round(CAST(support AS DOUBLE) / nb, 8)").alias(
                "conf_ba"
            ),
            F.expr(
                "round(CAST(support * n_orders AS DOUBLE)"
                " / CAST(na * nb AS DOUBLE), 8)"
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


# Shared construction for the graph-family rows below: the support-
# pruned undirected co-purchase graph (one row per edge, a < b), the
# same cut the triangle/association rows document — the Apriori
# downward-closure prune that holds the signal graph near-constant
# while raw pairs grow with the corpus (measured ~3.4k edges at sf0.01,
# ~3.6k at sf0.1 while raw pairs grew 10x).
_UND_SQL = f"""items AS MATERIALIZED (
   SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
 und AS MATERIALIZED (
   SELECT a.p AS a, b.p AS b
   FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
   GROUP BY 1, 2 HAVING count(*) >= {_TRI_SUPPORT})"""
# Oracle CTEs for the iterative rows are generated per round (the
# pagerank/scd2 discipline: the oracle applies the IDENTICAL update
# rule every round instead of hand-duplicating) and MATERIALIZED:
# DuckDB inlines plain CTEs per reference, and the per-round frames are
# each referenced 2-3 times — unmaterialized, an 8-round unroll
# expands 3^8 subtrees and exhausts file handles on the lineitem scan
# (the SQL mirror of the exact lineage blowup the Spark side solves
# with eager localCheckpoint).


def _und_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _UND_SQL (the af1744d single-scan edge build):
    ONE lineitem scan builds the distinct order-item projection; the
    pair self-join + support cut materialize once.

    Memoized per sf_dir through a tmp-parquet roundtrip (r14
    optimization; the _directed_copurchase_pairs discipline): FIVE
    catalog rows — kcore, BFS, label propagation, link prediction, and
    triangle counting — derive from this IDENTICAL support-pruned edge
    frame, and each used to re-run the fact-scale items-distinct +
    self-join chain at its own plan-build time (~2-3s × 5 per bench
    process at sf0.1). One build per process now serves all five; the
    frame itself is the KB-sized signal graph, so the parquet roundtrip
    is control-plane cheap and every consumer's re-scan reads a few
    compressed pages. This mirrors what a production pipeline does —
    derive the co-purchase graph once, serve many graph queries off it."""
    from migrate_cassandra_to_mysql_spark.operators.lineage import (
        free_local_checkpoint,
    )
    from migrate_cassandra_to_mysql_spark.plans._work import memo, workdir

    def _build() -> str:
        li = T(spark, sf_dir, "lineitem")
        items = (
            li.select(
                F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        right = items.select("ok", F.col("p").alias("b"))
        out = workdir("mc2m_copurchase_und_") + "/und"
        # The SUPPORT column rides along in the parquet (r15): the
        # association-rules row computes the identical support-cut
        # pair aggregation (same join, same predicate, same HAVING)
        # and used to re-run the whole fact-scale chain for it —
        # keeping the count this build already holds lets that row
        # reuse the memo. The five graph consumers still select (a, b)
        # only, so their scans prune the column (ReadSchema a,b).
        (
            items.join(right, "ok")
            .where(F.col("p") < F.col("b"))
            .select(F.col("p").alias("a"), "b")
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
            .where(F.col("support") >= _TRI_SUPPORT)
            .write.mode("overwrite")
            .parquet(out)
        )
        # (no explicit coalesce before the write: it would propagate up
        # and collapse the fact-scale support aggregation into one task;
        # AQE's partition coalescing already shrinks the KB-sized agg
        # output to a handful of files on its own)
        free_local_checkpoint(items)
        return out

    path = memo(("copurchase_und_pq", sf_dir), _build)
    return spark.read.parquet(path)


_KCORE_K = 2
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    ctes = [_UND_SQL, "e0 AS MATERIALIZED (SELECT a, b FROM und)"]
    for i in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
   SELECT n, CAST(count(*) AS BIGINT) AS d
   FROM (SELECT a AS n FROM e{i - 1} UNION ALL SELECT b FROM e{i - 1}) t
   GROUP BY n),
 k{i} AS MATERIALIZED (SELECT n FROM d{i} WHERE d >= {_KCORE_K}),
 e{i} AS MATERIALIZED (
   SELECT e.a, e.b FROM e{i - 1} e
   JOIN k{i} ka ON ka.n = e.a JOIN k{i} kb ON kb.n = e.b)"""
        )
    last = f"e{_KCORE_ROUNDS}"
    return (
        "WITH "
        + ",\n ".join(ctes)
        + f"""
SELECT n AS part_id, CAST(count(*) AS BIGINT) AS core_degree
FROM (SELECT a AS n FROM {last} UNION ALL SELECT b FROM {last}) t
GROUP BY n
"""
    )


@register("kcore_decomposition", oracle=_kcore_oracle())
def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core (k=2) of the support-pruned part co-purchase graph
    (Matula-Beck peeling, 8 synchronous rounds): iteratively drop
    every part whose current co-purchase degree is < k until the
    remaining subgraph is mutually dense — the cohesion/backbone
    primitive beside triangles (local density), pagerank (centrality)
    and components (reachability), and the classic spam/anomaly and
    community-seed filter in graph curation. Emits every core member
    with its degree INSIDE the core.

    Round count: peeling reaches its fixed point in 1 / 4 / 6 rounds at
    sf0.001 / 0.01 / 0.1 (measured; the synthetic graph gets SPARSER
    per-node as parts outgrow orders, so deeper cores empty at scale —
    k=2 keeps the cycle-containing backbone non-trivial at every tested
    scale); 8 rounds gives convergence slack and the oracle unrolls
    the identical count, so extra rounds are no-op filters on a stable
    edge set.

    Scale shape: ONE lineitem scan (checkpointed edge build), then every
    peel round is one union-groupBy degree count + one double semi-join
    filter over the KB-sized signal graph — edge-sized shuffles
    throughout, each round checkpointed with the previous round's
    blocks freed (operators/components.kcore on
    lineage.checkpointed_rounds). Peeling only shrinks the edge set, so round
    cost is monotonically non-increasing. Exact integer degrees — no
    float anywhere."""
    from migrate_cassandra_to_mysql_spark.operators.components import kcore

    und = _und_edges(spark, sf_dir)
    return kcore(und, k=_KCORE_K, rounds=_KCORE_ROUNDS).select(
        F.col("node").alias("part_id"),
        F.col("degree").alias("core_degree"),
    )


_BFS_HOPS = 4
_BFS_SEED_MOD = 100


def _bfs_oracle() -> str:
    ctes = [
        _UND_SQL,
        """sym AS MATERIALIZED (
   SELECT a AS src, b AS dst FROM und
   UNION ALL SELECT b, a FROM und)""",
        f"""dist0 AS MATERIALIZED (
   SELECT n AS node, CAST(0 AS BIGINT) AS dist
   FROM (SELECT a AS n FROM und UNION SELECT b FROM und) t
   WHERE n % {_BFS_SEED_MOD} = 0)""",
    ]
    for i in range(1, _BFS_HOPS + 1):
        ctes.append(
            f"""dist{i} AS MATERIALIZED (
   SELECT node, min(dist) AS dist FROM (
     SELECT node, dist FROM dist{i - 1}
     UNION ALL
     SELECT e.dst AS node, d.dist + 1
     FROM sym e JOIN dist{i - 1} d ON e.src = d.node
   ) t GROUP BY node)"""
        )
    return (
        "WITH "
        + ",\n ".join(ctes)
        + f"""
SELECT node AS part_id, CAST(dist AS BIGINT) AS dist
FROM dist{_BFS_HOPS}
"""
    )


@register("bfs_shortest_hops", oracle=_bfs_oracle())
def bfs_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source shortest hop distances over the co-purchase graph
    (synchronous frontier BFS, the Pregel primitive): every part whose
    id is a multiple of 100 seeds at distance 0; each round extends
    every known distance one hop and keeps the per-node minimum; parts
    unreached within 4 hops are absent. This is the reachability-
    with-distance member of the graph family — "how many co-purchase
    steps from the promoted SKU set" — and the building block of
    radius/influence analyses.

    Scale shape: ONE lineitem scan (checkpointed edge build); each of
    the 4 rounds is one equi-join of the symmetric edge list against
    the current (node, dist) frame + one min-groupBy — 16-byte pairs
    shuffle, never payloads; rounds eagerly checkpointed, previous
    blocks freed (operators/components.bfs_hops). Distances are exact
    integers; min() is order-independent, so the result is identical
    under any partitioning — zero float tolerance needed."""
    from migrate_cassandra_to_mysql_spark.operators.components import (
        bfs_hops,
    )

    und = _und_edges(spark, sf_dir)
    sym = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    seeds = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .distinct()
        .where(F.col("n") % _BFS_SEED_MOD == 0)
        .select("n")
    )
    return bfs_hops(sym, seeds, max_hops=_BFS_HOPS).select(
        F.col("node").alias("part_id"), F.col("dist").cast("long").alias("dist")
    )


_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    ctes = [
        _UND_SQL,
        """sym AS MATERIALIZED (
   SELECT a AS src, b AS dst FROM und
   UNION ALL SELECT b, a FROM und)""",
        """l0 AS MATERIALIZED (
   SELECT n AS node, n AS lbl
   FROM (SELECT a AS n FROM und UNION SELECT b FROM und) t)""",
    ]
    for i in range(1, _LPA_ROUNDS + 1):
        ctes.append(
            f"""c{i} AS MATERIALIZED (
   SELECT e.dst AS n, l.lbl, CAST(count(*) AS BIGINT) AS c
   FROM sym e JOIN l{i - 1} l ON e.src = l.node GROUP BY 1, 2),
 b{i} AS MATERIALIZED (
   SELECT n, lbl AS new_lbl FROM (
     SELECT n, lbl,
            row_number() OVER (PARTITION BY n
                               ORDER BY c DESC, lbl ASC) AS rn
     FROM c{i}) t WHERE rn = 1),
 l{i} AS MATERIALIZED (
   SELECT l.node, coalesce(b.new_lbl, l.lbl) AS lbl
   FROM l{i - 1} l LEFT JOIN b{i} b ON l.node = b.n)"""
        )
    return (
        "WITH "
        + ",\n ".join(ctes)
        + f"""
SELECT node AS part_id, CAST(lbl AS BIGINT) AS community
FROM l{_LPA_ROUNDS}
"""
    )


@register("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection over the co-purchase graph by synchronous
    label propagation (Raghavan et al. 2007) with the deterministic
    update rule: start every part labeled with its own id; each of the
    4 rounds every part adopts the label carried by the MOST of its
    neighbors, ties to the smallest label. Splits a connected blob
    into internally-dense purchase communities — finer than connected
    components (pure reachability), coarser than triangles (local
    closure); the "which products cluster together" primitive behind
    assortment and substitution analyses. Measured at sf0.01: 1,880
    parts resolve into 349 communities (largest 81) — structure the
    component view cannot see (the graph is one near-connected blob).

    Scale shape: ONE lineitem scan (checkpointed edge build); each
    round is one edge-keyed equi-join + one (node, label) count + one
    max_by(struct) partial-agg argmax — no window over the node set,
    no sort; shuffles carry (node, label, count) triples only; rounds
    eagerly checkpointed, previous blocks freed
    (operators/components.label_propagation). The count-desc/label-asc
    tie-break is total, so the sync update — unlike textbook async
    LPA's random visit order — is bit-reproducible under any
    partitioning AND differentially testable (the oracle unrolls the
    identical rounds)."""
    from migrate_cassandra_to_mysql_spark.operators.components import (
        label_propagation,
    )

    und = _und_edges(spark, sf_dir)
    sym = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    return label_propagation(sym, rounds=_LPA_ROUNDS).select(
        F.col("node").alias("part_id"),
        F.col("community").cast("long").alias("community"),
    )


# Link prediction over the support-pruned co-purchase graph: top
# candidate pairs by Adamic-Adar, with the Resource-Allocation index
# computed in the same wedge pass. Both indices weight each common
# neighbor w by a decreasing function of its degree — AA by 1/ln(deg w)
# (Adamic & Adar 2003), RA by 1/deg w (Zhou, Lu & Zhang 2009) — so a
# shared niche part is stronger evidence than a shared bestseller.
_AA_TOPK = 100
# Wedge-center degree ceiling (r13 VERDICT ask #2): wedge volume is
# sum over centers of C(deg w, 2) and degree orientation cannot apply
# (both arms needed), so without a cap one pathological hub explodes
# the self-join quadratically in its degree. Centers past the ceiling
# are excluded from BOTH indices — the sparse-cosine df-clamp
# discipline (textplans._SC_DF_CEIL, same 1024 literal): the bound is
# STRUCTURAL (<= C(1024,2) pairs per center) instead of an empirical
# observation about the support-pruned graph, and the pruned centers
# carry the least signal by the indices' own 1/ln(d), 1/d weighting.
# A no-op on every test scale (max pruned-graph degree: 13 at sf0.01,
# 6 at sf0.1); the synthetic-hub exclusion is pinned in
# tests/test_r14_ops.py.
_AA_DEG_CEIL = 1024


def _adamic_adar_oracle() -> str:
    return f"""
WITH {_UND_SQL},
 nbr AS MATERIALIZED (SELECT a AS n, b AS w FROM und
                      UNION ALL SELECT b AS n, a AS w FROM und),
 deg AS MATERIALIZED (SELECT n AS node, CAST(count(*) AS BIGINT) AS d
                      FROM nbr GROUP BY n),
 wn AS MATERIALIZED (
   SELECT nbr.n, nbr.w,
          CAST(round(1.0 / ln(CAST(deg.d AS DOUBLE)), 12)
               AS DECIMAL(28,12)) AS aa_w,
          CAST(round(1.0 / CAST(deg.d AS DOUBLE), 12)
               AS DECIMAL(28,12)) AS ra_w
   FROM nbr JOIN deg ON deg.node = nbr.w
   WHERE deg.d >= 2 AND deg.d <= {_AA_DEG_CEIL}),
 wedge AS MATERIALIZED (
   SELECT x.n AS u, y.n AS v, x.aa_w, x.ra_w
   FROM wn x JOIN wn y ON x.w = y.w AND x.n < y.n),
 cand AS (SELECT u, v, aa_w, ra_w FROM wedge
          WHERE NOT EXISTS (SELECT 1 FROM und
                            WHERE und.a = wedge.u AND und.b = wedge.v)),
 scored AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
                   sum(aa_w) AS aa, sum(ra_w) AS ra
            FROM cand GROUP BY u, v)
SELECT u AS part_a, v AS part_b, n_common,
       round(CAST(aa AS DOUBLE), 8) AS adamic_adar,
       round(CAST(ra AS DOUBLE), 8) AS resource_alloc
FROM scored
ORDER BY adamic_adar DESC, part_a, part_b
LIMIT {_AA_TOPK}
"""


@register("copurchase_link_prediction", oracle=_adamic_adar_oracle())
def copurchase_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Link prediction over the support-pruned part co-purchase graph:
    the top-100 NON-adjacent part pairs by Adamic-Adar score
    (sum over common neighbors w of 1/ln(deg w)), with the
    Resource-Allocation index (sum of 1/deg w) from the same wedge
    pass — the "which products WILL be bought together" primitive
    (Liben-Nowell & Kleinberg 2003's link-prediction benchmark ranks
    AA/RA at the top of the local-index family) completing the graph
    suite: pagerank/ppr rank nodes, triangles/LPA find present
    structure, this ranks ABSENT edges by predicted formation.

    Scale shape: ONE lineitem scan (the checkpointed _und_edges signal
    graph — support-pruned, so near-constant density at scale, the
    triangles argument); wedge enumeration self-joins the
    degree-weighted neighbor list on the CENTER node, and the centers
    are DEGREE-CAPPED at _AA_DEG_CEIL = 1024 (r13 VERDICT ask #2, the
    sparse-cosine df-clamp discipline — see the constant's comment and
    operators/components.link_prediction_scores), so wedge fan-out is
    structurally bounded at C(1024, 2) per center no matter
    what the data does; the degree frame and the adjacency anti-join
    side are node-/edge-sized (KB at any corpus) and broadcast. No
    node-set window, no driver loop.

    Determinism: degrees are exact BIGINTs; each wedge term folds
    through round(1/ln(d), 12) -> DECIMAL(28,12) (resp. 1/d) so the
    per-pair sums are order-independent under any partitioning (the
    pagerank contribution discipline); deg >= 2 for every wedge center
    by construction AND by explicit filter (ln(1) = 0 would otherwise
    produce an engine-divergent infinity before the join prunes it);
    final scores rounded to 8 dp before the (aa DESC, part_a, part_b)
    total order."""
    from migrate_cassandra_to_mysql_spark.operators.components import (
        link_prediction_scores,
    )

    und = _und_edges(spark, sf_dir)
    return (
        link_prediction_scores(und, deg_ceil=_AA_DEG_CEIL)
        .orderBy(F.desc("adamic_adar"), F.asc("part_a"), F.asc("part_b"))
        .limit(_AA_TOPK)
    )
