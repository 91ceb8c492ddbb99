"""Connected-components operator: cluster resolution for dedup.

connected_components finishes small edge sets on the driver and runs
distributed min-label propagation above the bound (or with broadcast
off), so every answer is checked on both paths."""

from contextlib import contextmanager, nullcontext

import pytest
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.operators.components import (
    connected_components,
    dedup_clusters,
)

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
PATHS = ("driver", "distributed")


@contextmanager
def _threshold(spark, value):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _forced(spark, path):
    """The session default takes the driver path on these small graphs;
    a threshold of -1 (broadcast off) forces the distributed path."""
    return _threshold(spark, "-1") if path == "distributed" else nullcontext()


@pytest.fixture(params=PATHS)
def cc_path(request, spark):
    with _forced(spark, request.param):
        yield request.param


def _is_local(df):
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _on_both_paths(spark, fn):
    """fn()'s sorted rows, asserted identical on the two paths."""
    got = {}
    for path in PATHS:
        with _forced(spark, path):
            got[path] = sorted(tuple(r) for r in fn().collect())
    assert got["driver"] == got["distributed"]
    return got["driver"]


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src BIGINT, dst BIGINT")


def test_chain_clique_singleton(spark):
    # chain 1-2-3-4, clique {10,11,12}, pair {20,21}; 99 absent from edges
    e = _edges(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
    )
    got = set(_on_both_paths(spark, lambda: connected_components(e)))
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_component_is_min_reachable_not_min_neighbor(spark):
    # 5-4, 4-3, 3-1: node 5's min NEIGHBOR after one round is 4; the true
    # component is 1 — requires propagation across the chain.
    e = _edges(spark, [(5, 4), (4, 3), (3, 1)])
    got = dict(_on_both_paths(spark, lambda: connected_components(e)))
    assert got == {1: 1, 3: 1, 4: 1, 5: 1}


def test_nonconvergence_raises(spark):
    e = _edges(spark, [(5, 4), (4, 3), (3, 2), (2, 1)])
    for path in PATHS:
        with _forced(spark, path):
            with pytest.raises(RuntimeError, match="converge"):
                connected_components(e, max_iter=1)


def test_max_iter_boundary(spark, cc_path):
    # a 5-node chain: depth 4 below its minimum id, so min-label
    # propagation needs 5 rounds (the last one observes no change)
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    with pytest.raises(RuntimeError, match="did not converge in 4 rounds"):
        connected_components(e, max_iter=4)
    out = connected_components(e, max_iter=5)
    assert _is_local(out) == (cc_path == "driver")
    assert sorted(tuple(r) for r in out.collect()) == [
        (i, 1) for i in range(1, 6)
    ]


@pytest.mark.parametrize(
    "id_type, pairs, expected",
    [
        (
            "string",
            [("b", "a"), ("c", "b"), ("y", "x"), ("é", "z")],
            [
                ("a", "a"), ("b", "a"), ("c", "a"),
                ("x", "x"), ("y", "x"), ("z", "z"), ("é", "z"),
            ],
        ),
        (
            "smallint",
            [(3, 2), (2, 1), (9, 8)],
            [(1, 1), (2, 1), (3, 1), (8, 8), (9, 8)],
        ),
    ],
)
def test_driver_path_keeps_the_id_type(spark, id_type, pairs, expected):
    e = spark.createDataFrame(pairs, f"src {id_type}, dst {id_type}")
    out = connected_components(e)
    assert _is_local(out)
    assert out.schema["id"].dataType.simpleString() == id_type
    assert _on_both_paths(spark, lambda: connected_components(e)) == expected


def test_bound_crossing_edge_counts(spark):
    """The bound is the broadcast threshold over 16 bytes per edge: at
    16*n bytes, n edges finish on the driver and n + 1 run distributed,
    with the same rows either way."""
    n = 6
    chains = [(i, i + 1) for i in range(0, 2 * n + 2, 2)]
    e_n, e_n1 = _edges(spark, chains[:n]), _edges(spark, chains[: n + 1])
    with _threshold(spark, str(16 * n)):
        at_n = connected_components(e_n)
        above_n = connected_components(e_n1)
        assert _is_local(at_n)
        assert not _is_local(above_n)
        above_rows = sorted(tuple(r) for r in above_n.collect())
    with _threshold(spark, str(16 * (n + 1))):
        driver_n1 = connected_components(e_n1)
        assert _is_local(driver_n1)
        assert sorted(tuple(r) for r in driver_n1.collect()) == above_rows
    assert sorted(tuple(r) for r in at_n.collect()) == above_rows[: 2 * n]


def test_dedup_clusters_singletons_and_survivors(spark):
    docs = spark.createDataFrame([(1,), (2,), (3,), (7,)], "doc_id BIGINT")
    pairs = spark.createDataFrame([(1, 3)], "doc_a BIGINT, doc_b BIGINT")
    rows = set(_on_both_paths(spark, lambda: dedup_clusters(docs, pairs)))
    assert rows == {
        (1, 1, True),
        (3, 1, False),
        (2, 2, True),
        (7, 7, True),
    }


def test_survivor_count_matches_components(spark):
    e = [(i, i + 1) for i in range(0, 40, 2)]  # 20 disjoint pairs
    docs = spark.range(0, 60).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(e, "doc_a BIGINT, doc_b BIGINT")
    rows = _on_both_paths(spark, lambda: dedup_clusters(docs, pairs))
    # 20 pair-components + 20 singletons (40..59) = 40 survivors
    assert sum(r[2] for r in rows) == 40
    assert len(rows) == 60


def test_long_chain_converges_with_bounded_plan(spark):
    """Adversarial diameter: a 26-node path needs 25 propagation rounds.
    Before the r7 localCheckpoint fix, the analyzed plan doubled per
    round (labels referenced twice: neighbor-min join + convergence
    probe) and plan stringification alone OOM'd the driver long before
    25 rounds — this test is the regression pin for O(1)-deep lineage
    in fact, not just intent."""
    edges = [(i, i + 1) for i in range(25)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with _forced(spark, "distributed"):
        cc = connected_components(df, max_iter=30)
        assert not _is_local(cc)
        out = cc.collect()
    assert {r["id"] for r in out} == set(range(26))
    assert all(r["component"] == 0 for r in out)


@pytest.mark.parametrize(
    "name", ["dedup_clusters", "dedup_canonical_keep", "corpus_curation"]
)
def test_catalog_rows_equal_on_both_paths(spark, sf_dir, name):
    from migrate_cassandra_to_mysql_spark.plans import catalog

    fn = catalog.queries()[name]
    assert _on_both_paths(spark, lambda: fn(spark, sf_dir))


def test_small_graph_finishes_on_driver_within_job_budget(spark, sf_dir):
    """Below the bound the components are a local relation (so joins on
    them broadcast), and dedup_clusters over the catalog's LSH candidate
    pairs runs at most 8 Spark jobs, the LSH chain included (the
    distributed path needs 20 here: a persist, a labels checkpoint and
    one job per round on top)."""
    from migrate_cassandra_to_mysql_spark.operators import dedup
    from migrate_cassandra_to_mysql_spark.plans.textplans import (
        _inject_dups_spark,
    )
    from migrate_cassandra_to_mysql_spark.sources.parquet import table

    assert _is_local(connected_components(_edges(spark, [(1, 2), (2, 3)])))

    base = _inject_dups_spark(table(spark, sf_dir, "documents"))
    pairs = dedup.lsh_candidates(base, k=3, n_hashes=8, band_size=2)
    sc = spark.sparkContext
    group = "test_components.dedup_clusters_jobs"
    sc.setJobGroup(group, "dedup_clusters job budget")
    try:
        dedup_clusters(base, pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 8, n_jobs
