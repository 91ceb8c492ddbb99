"""operators/lineage: the checkpointed-round driver every iterative graph
operator runs on, and the block-release rules it enforces."""

import pathlib
import re

import pytest
from pyspark.sql import functions as F

import migrate_cassandra_to_mysql_spark
from migrate_cassandra_to_mysql_spark.operators import components, similarity
from migrate_cassandra_to_mysql_spark.operators.lineage import (
    checkpointed_rounds,
)
from migrate_cassandra_to_mysql_spark.sources.parquet import table as T


def _count():
    return F.count(F.lit(1))


def _block_rdd_ids(spark) -> set:
    """Ids of the RDDs currently holding executor-storage blocks (block
    updates reach the status store through the listener bus)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return {info.id() for info in jsc.getRDDStorageInfo()}


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _drop_ten(df):
    """Each round drops the ten smallest ids and shifts the rest down."""
    return df.where(F.col("id") >= 10).select((F.col("id") - 10).alias("id"))


@pytest.mark.parametrize("use_probe", [False, True], ids=["eager", "probe"])
def test_only_the_last_round_holds_blocks(spark, use_probe):
    probe = _count() if use_probe else None
    init = spark.range(50).localCheckpoint(eager=True)
    frames = [
        df for df, _ in checkpointed_rounds(init, _drop_ten, 3, probe)
    ]
    assert len(frames) == 3
    ours = {_rdd_id(init)} | {_rdd_id(df) for df in frames}
    assert len(ours) == 4
    assert _block_rdd_ids(spark) & ours == {_rdd_id(frames[-1])}
    assert sorted(r["id"] for r in frames[-1].collect()) == list(range(20))


def test_eager_rounds_yield_no_value(spark):
    init = spark.range(30).localCheckpoint(eager=True)
    values = [v for _, v in checkpointed_rounds(init, _drop_ten, 2)]
    assert values == [None, None]


def test_count_probe_yields_each_rounds_row_count(spark):
    init = spark.range(50).localCheckpoint(eager=True)
    got = [
        (v, df.count())
        for df, v in checkpointed_rounds(init, _drop_ten, 4, _count())
    ]
    assert got == [(40, 40), (30, 30), (20, 20), (10, 10)]


def test_frame_survives_a_break(spark):
    init = spark.range(50).localCheckpoint(eager=True)
    for df, n in checkpointed_rounds(init, _drop_ten, 10, _count()):
        if n <= 20:
            break
    assert sorted(r["id"] for r in df.collect()) == list(range(20))
    assert _rdd_id(df) in _block_rdd_ids(spark)


def test_label_propagation_frees_its_edge_checkpoint(spark):
    """The returned label frame is the only block-holding RDD a call
    leaves behind: the input-edge checkpoint is freed too."""
    und = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    sym = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    before = _block_rdd_ids(spark)
    out = components.label_propagation(sym, rounds=3)
    assert len(out.collect()) == 6
    assert len(_block_rdd_ids(spark) - before) == 1


def test_mmr_frees_each_greedy_stage_it_replaces(spark, sf_dir):
    """A k=5 MMR call leaves three block-holding RDDs, the ones its
    result reads: the candidate and pair checkpoints and the last
    checkpointed greedy stage."""
    before = _block_rdd_ids(spark)
    out = similarity.mmr_rerank(
        T(spark, sf_dir, "embeddings"), F.col("vec_id") % 100 == 0, k=5
    )
    assert len(out.collect()) > 0
    assert len(_block_rdd_ids(spark) - before) == 3


def test_lazy_checkpoints_live_only_in_the_round_driver():
    """A lazy localCheckpoint truncates lineage before any partition is
    computed; only a full-frame aggregate may materialize it, and only
    `checkpointed_rounds` takes one."""
    root = pathlib.Path(migrate_cassandra_to_mysql_spark.__file__).parent
    lazy = re.compile(r"localCheckpoint\(\s*(eager\s*=\s*)?False")
    hits = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if lazy.search(p.read_text())
    )
    assert hits == ["operators/lineage.py"]
