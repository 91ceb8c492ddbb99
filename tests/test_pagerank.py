"""PageRank (operators/components.pagerank): semantics against a pure-
Python power-iteration reference, mass conservation on graphs without
dangling nodes, and determinism across partitioning layouts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.operators.components import pagerank
from migrate_cassandra_to_mysql_spark.plans.scaleplans import (
    part_copurchase_pagerank,
)


def _ref_pagerank(edges, damping=0.85, n_iter=5, redistribute_dangling=False):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    out = {}
    for a, _ in edges:
        out[a] = out.get(a, 0) + 1
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        sums = {v: 0.0 for v in nodes}
        for a, b in edges:
            sums[b] += round(rank[a] / out[a], 12)
        d_mass = 0.0
        if redistribute_dangling:
            d_mass = sum(round(rank[v], 12) for v in nodes if v not in out)
        rank = {
            v: (1.0 - damping) / n + damping * (sums[v] + d_mass / n)
            for v in nodes
        }
    return rank


@pytest.fixture(scope="module")
def ring_edges():
    # a directed ring with a chord: every node has out-edges, asymmetric
    # enough that ranks differ
    ring = [(i, (i + 1) % 10) for i in range(10)]
    return ring + [(0, 5), (3, 7)]


def test_matches_python_reference(spark, ring_edges):
    df = spark.createDataFrame(ring_edges, "src long, dst long")
    got = {
        r["node"]: r["rank"] for r in pagerank(df, n_iter=5).collect()
    }
    ref = _ref_pagerank(ring_edges)
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-9, v


def test_mass_conserved_without_dangling(spark, ring_edges):
    df = spark.createDataFrame(ring_edges, "src long, dst long")
    total = (
        pagerank(df, n_iter=5)
        .agg(F.sum("rank").alias("s"))
        .collect()[0]["s"]
    )
    # no dangling nodes -> total mass stays 1 (up to the 12-dp rounding
    # of contributions: |error| <= edges * 5e-13 per iteration)
    assert abs(total - 1.0) < 1e-9


def test_partitioning_invariance(spark, ring_edges):
    df1 = spark.createDataFrame(ring_edges, "src long, dst long")
    df2 = df1.repartition(7, "dst")
    a = {r["node"]: r["rank"] for r in pagerank(df1, n_iter=4).collect()}
    b = {r["node"]: r["rank"] for r in pagerank(df2, n_iter=4).collect()}
    assert a == b  # bit-identical, not approximately equal


@pytest.fixture(scope="module")
def dangling_edges():
    # nodes 0-4 in a chain feeding node 5, which has NO out-edges (the
    # dangling sink), plus a side branch; nodes {5, 7} are dangling
    return [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (0, 5), (2, 7)]


def test_dangling_matches_python_reference(spark, dangling_edges):
    df = spark.createDataFrame(dangling_edges, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            df, n_iter=6, redistribute_dangling=True
        ).collect()
    }
    ref = _ref_pagerank(dangling_edges, n_iter=6, redistribute_dangling=True)
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-9, v


def test_dangling_mass_conserved(spark, dangling_edges):
    df = spark.createDataFrame(dangling_edges, "src long, dst long")
    total = (
        pagerank(df, n_iter=6, redistribute_dangling=True)
        .agg(F.sum("rank").alias("s"))
        .collect()[0]["s"]
    )
    # with redistribution, total mass stays 1 even though {5,7} have no
    # out-edges; without it the simple variant leaks their mass
    assert abs(total - 1.0) < 1e-9
    leaky = (
        pagerank(df, n_iter=6, redistribute_dangling=False)
        .agg(F.sum("rank").alias("s"))
        .collect()[0]["s"]
    )
    assert leaky < 1.0 - 1e-6


def test_tol_early_stop_matches_converged(spark, ring_edges):
    df = spark.createDataFrame(ring_edges, "src long, dst long")
    # generous cap + tight tol: must stop early AND agree with a long
    # fixed run to within the tolerance band
    converged = {
        r["node"]: r["rank"] for r in pagerank(df, n_iter=60).collect()
    }
    early = {
        r["node"]: r["rank"]
        for r in pagerank(df, n_iter=60, tol=1e-10).collect()
    }
    assert set(early) == set(converged)
    for v in converged:
        assert abs(early[v] - converged[v]) < 1e-8, v


def test_catalog_query_shape(spark, sf_dir):
    out = part_copurchase_pagerank(spark, sf_dir).toPandas()
    assert (out["pagerank"] > 0).all()
    assert (out["n_out"] >= 1).all()  # co-purchase graph is symmetric
    # co-purchased parts outrank the uniform floor somewhere
    assert out["pagerank"].max() > out["pagerank"].min()
    assert out["part_id"].is_unique


# ---------------------------------------------------------------------------
# Personalized PageRank (random-walk-with-restart)


def _ref_ppr(edges, seeds, damping=0.85, n_iter=5):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    out = {}
    for a, _ in edges:
        out[a] = out.get(a, 0) + 1
    tp = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
    rank = dict(tp)
    for _ in range(n_iter):
        sums = {v: 0.0 for v in nodes}
        for a, b in edges:
            sums[b] += round(rank[a] / out[a], 12)
        rank = {
            v: (1.0 - damping) * tp[v] + damping * sums[v] for v in nodes
        }
    return rank


def test_ppr_matches_python_reference(spark, ring_edges):
    from migrate_cassandra_to_mysql_spark.operators.components import (
        personalized_pagerank,
    )

    df = spark.createDataFrame(ring_edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (3,)], "node long")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds, n_iter=5).collect()
    }
    ref = _ref_ppr(ring_edges, {0, 3})
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-9, v


def test_ppr_string_node_ids(spark, ring_edges):
    # the teleport frame takes the seed column's type, so string ids
    # walk the same graph to the same ranks
    from migrate_cassandra_to_mysql_spark.operators.components import (
        personalized_pagerank,
    )

    named = [(f"n{a}", f"n{b}") for a, b in ring_edges]
    df = spark.createDataFrame(named, "src string, dst string")
    seeds = spark.createDataFrame([("n0",), ("n3",)], "node string")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds, n_iter=5).collect()
    }
    ref = _ref_ppr(named, {"n0", "n3"})
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-9, v


def test_ppr_all_seeds_equals_global_pagerank(spark, ring_edges):
    # teleporting to ALL nodes uniformly IS global pagerank — the
    # recursion coincides term by term, so ranks must be bit-identical
    # (same rounding discipline on both paths)
    from migrate_cassandra_to_mysql_spark.operators.components import (
        personalized_pagerank,
    )

    df = spark.createDataFrame(ring_edges, "src long, dst long")
    all_nodes = (
        df.select(F.col("src").alias("node"))
        .union(df.select(F.col("dst").alias("node")))
        .distinct()
    )
    ppr = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, all_nodes, n_iter=4).collect()
    }
    pr = {r["node"]: r["rank"] for r in pagerank(df, n_iter=4).collect()}
    assert ppr == pr


def test_ppr_all_seeds_equals_global_pagerank_divergent_count(spark):
    """The bit-equality must hold for EVERY node count, including the
    counts where (1-d)*(1/n) != (1-d)/n in IEEE doubles (n = 3, 6, 12,
    19, ...): the teleport TERM is computed as ONE quotient in both
    pagerank and personalized_pagerank (and both oracles), so the
    all-seeds recursion coincides ulp for ulp. A 6-node graph is the
    regression case — the multiply form passes the 10-node fixture by
    coincidence and fails here."""
    from migrate_cassandra_to_mysql_spark.operators.components import (
        personalized_pagerank,
    )

    edges6 = [(i, (i + 1) % 6) for i in range(6)] + [(0, 3)]
    df = spark.createDataFrame(edges6, "src long, dst long")
    all_nodes = (
        df.select(F.col("src").alias("node"))
        .union(df.select(F.col("dst").alias("node")))
        .distinct()
    )
    ppr = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, all_nodes, n_iter=4).collect()
    }
    pr = {r["node"]: r["rank"] for r in pagerank(df, n_iter=4).collect()}
    assert ppr == pr


def test_precomputed_outdeg_and_nodes_equal_default(spark, ring_edges):
    """r15 plan-shape params: a per-row precomputed out-degree column
    (outdeg_col) and a caller-supplied distinct node frame (nodes=)
    must change NOTHING but the plan — ranks bit-identical to the
    default path for both pagerank and personalized_pagerank (the
    memoized co-purchase parquet precomputes n_out exactly this way)."""
    from pyspark.sql import Window

    from migrate_cassandra_to_mysql_spark.operators.components import (
        personalized_pagerank,
    )

    df = spark.createDataFrame(ring_edges, "src long, dst long")
    with_deg = df.withColumn(
        "n_out",
        F.count(F.lit(1)).over(Window.partitionBy("src")).cast("long"),
    )
    nodes = (
        df.select(F.col("src").alias("node"))
        .union(df.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seeds = spark.createDataFrame([(0,), (3,)], "node long")

    base_pr = {r["node"]: r["rank"] for r in pagerank(df, n_iter=4).collect()}
    got_pr = {
        r["node"]: r["rank"]
        for r in pagerank(with_deg, n_iter=4, outdeg_col="n_out").collect()
    }
    assert got_pr == base_pr

    base = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds, n_iter=5).collect()
    }
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(
            with_deg,
            seeds,
            n_iter=5,
            broadcast_frontier=True,
            outdeg_col="n_out",
            nodes=nodes,
        ).collect()
    }
    assert got == base


def test_ppr_mass_conserved_and_seed_locality(spark, ring_edges):
    from migrate_cassandra_to_mysql_spark.operators.components import (
        personalized_pagerank,
    )

    df = spark.createDataFrame(ring_edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    ranks = personalized_pagerank(df, seeds, n_iter=8)
    total = ranks.agg(F.sum("rank").alias("s")).collect()[0]["s"]
    # ring has no dangling nodes -> restart mass + walk mass stays 1
    assert abs(total - 1.0) < 1e-9
    got = {r["node"]: r["rank"] for r in ranks.collect()}
    # the seed holds the restart mass: strictly the highest rank (its
    # successors split a damped copy of it — node 0 fans out to {1, 5})
    assert got[0] == max(got.values())
    # walk mass reaches every node within 8 hops of the seed, and each
    # non-seed node holds strictly less than the damped seed mass
    assert all(v > 0 for v in got.values())
    assert all(v < got[0] for k, v in got.items() if k != 0)


def test_ppr_partitioning_invariance(spark, ring_edges):
    from migrate_cassandra_to_mysql_spark.operators.components import (
        personalized_pagerank,
    )

    df1 = spark.createDataFrame(ring_edges, "src long, dst long")
    df2 = df1.repartition(7, "dst")
    seeds = spark.createDataFrame([(0,), (5,)], "node long")
    a = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df1, seeds, n_iter=4).collect()
    }
    b = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df2, seeds, n_iter=4).collect()
    }
    assert a == b  # bit-identical, not approximately equal


def test_ppr_catalog_query_shape(spark, sf_dir):
    from migrate_cassandra_to_mysql_spark.plans.scaleplans import (
        part_copurchase_ppr,
    )

    out = part_copurchase_ppr(spark, sf_dir).toPandas()
    assert out["part_id"].is_unique
    assert int(out["is_seed"].sum()) == 3
    # every seed is reachable-from-itself via the symmetric graph, so
    # seeds keep restart mass: all three outrank every zero-teleport
    # node that only accumulates walk mass through >= 1 damped hop of
    # a 3-way-split restart... which cannot exceed the seed floor
    seed_min = out[out["is_seed"] == 1]["ppr"].min()
    assert seed_min > 0
    # non-seed mass exists (the walk spreads) but totals <= 1
    assert 0.99 < out["ppr"].sum() <= 1.0 + 1e-6


def test_ppr_empty_seed_set_raises(spark, ring_edges):
    from migrate_cassandra_to_mysql_spark.operators.components import (
        personalized_pagerank,
    )

    df = spark.createDataFrame(ring_edges, "src long, dst long")
    empty = spark.createDataFrame([], "node long")
    with pytest.raises(ValueError, match="empty seed set"):
        personalized_pagerank(df, empty, n_iter=2)


def test_ppr_broadcast_frontier_equals_default(spark, ring_edges):
    """A/B pin (r12 ADVICE): broadcast_frontier=True changes ONLY the
    join strategy (frontier ships to executors; the edge frame never
    shuffles) — ranks must be bit-identical to the default shuffle
    join, since contributions fold through order-independent 12-dp
    DECIMAL sums."""
    from migrate_cassandra_to_mysql_spark.operators.components import (
        personalized_pagerank,
    )

    df = spark.createDataFrame(ring_edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (5,)], "node long")
    a = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds, n_iter=4).collect()
    }
    b = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(
            df, seeds, n_iter=4, broadcast_frontier=True
        ).collect()
    }
    assert a == b  # bit-identical, not approximately equal


def test_ppr_broadcast_row_cap_fallback_equals_default(spark, ring_edges):
    """The r12 ADVICE guard: when the sparse rank vector outgrows
    broadcast_row_cap, the loop and the final expansion fall back to
    the shuffle join — cap=0 forces the fallback on every round, and
    the result must still be bit-identical."""
    from migrate_cassandra_to_mysql_spark.operators.components import (
        personalized_pagerank,
    )

    df = spark.createDataFrame(ring_edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (5,)], "node long")
    a = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds, n_iter=4).collect()
    }
    b = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(
            df,
            seeds,
            n_iter=4,
            broadcast_frontier=True,
            broadcast_row_cap=0,
        ).collect()
    }
    assert a == b


def test_smallest_nodes_equals_distinct_form(spark):
    """The shuffle-free n-min seed pick (scaleplans._smallest_nodes)
    must return exactly the n smallest distinct node ids — the
    union-distinct + TakeOrdered form it replaced — including when a
    node's only partner is an earlier seed (node 2 below appears only
    opposite node 1) and when fewer than n distinct nodes exist."""
    from migrate_cassandra_to_mysql_spark.plans.scaleplans import (
        _smallest_nodes,
    )

    edges = spark.createDataFrame(
        [(1, 2), (5, 9), (9, 5), (7, 5)], "src long, dst long"
    )
    got = sorted(r["node"] for r in _smallest_nodes(spark, edges, n=3).collect())
    want = sorted(
        r["node"]
        for r in (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
            .orderBy("node")
            .limit(3)
            .collect()
        )
    )
    assert got == want == [1, 2, 5]
    # short graph: returns every distinct node, no crash
    two = spark.createDataFrame([(4, 8), (8, 4)], "src long, dst long")
    assert sorted(
        r["node"] for r in _smallest_nodes(spark, two, n=3).collect()
    ) == [4, 8]
