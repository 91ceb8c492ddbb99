"""The driver-side IVFADC query side (similarity.ranked_cells,
similarity.adc_tables, similarity.round6) must equal the SQL it stands in
for (ranked_cells_expr, adc_query_side, Spark's round(x, 6)) bit for bit:
ivf_index.ivfpq_search uses the driver twins, the inline operators the
SQL, and their results are compared row for row."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions.localframe import local_frame
from migrate_cassandra_to_mysql_spark.operators import similarity as sim

D, M, N_CELLS, N_CENTERS = 16, 4, 8, 8


def _bits(values) -> bytes:
    return np.asarray(values, dtype=np.float64).tobytes()


def _codebooks(rng):
    """Cells on a 1/16 grid, with exact-tie cells (a duplicate and a 2x
    copy have the same cosine as their source), and PQ centers on the
    same grid."""
    cells = rng.integers(-32, 33, size=(N_CELLS, D)) / 16.0
    cells[5] = cells[1]
    cells[6] = cells[2] * 2.0
    centers = rng.integers(-32, 33, size=(M, N_CENTERS, D // M)) / 16.0
    return cells, centers


def _queries(rng, cells, centers, n):
    """Half random normal vectors; half a PQ center per subspace (on the
    grid) plus +-1/16 offsets, whose squared distances are odd multiples
    of 1/128 and so sit exactly on 6-dp ties (1/128 = 0.0078125)."""
    raw = rng.normal(size=(n // 2, D))
    picks = rng.integers(0, N_CENTERS, size=(n - n // 2, M))
    grid = np.concatenate(
        [centers[mi][picks[:, mi]] for mi in range(M)], axis=1
    )
    offsets = rng.choice([-1.0, 0.0, 1.0], size=grid.shape) / 16.0
    tied = grid + offsets
    tied[::7] += cells[rng.integers(0, N_CELLS)]
    return np.concatenate([raw, tied])


def test_round6_equals_spark_round_on_ties(spark):
    """Doubles nearest to 6-dp ties (and their neighbours) round as
    Spark's round(x, 6) does."""
    rng = np.random.default_rng(5)
    base = (rng.integers(-3_000_000, 3_000_000, size=3000) + 0.5) / 1e6
    values = np.concatenate(
        [base, np.nextafter(base, np.inf), np.nextafter(base, -np.inf),
         np.arange(1, 2001, 2) / 128.0, rng.normal(size=1000)]
    ).tolist()
    rows = (
        local_frame(spark, list(enumerate(values)), "i long, x double")
        .select("i", F.round("x", 6).alias("r"))
        .collect()
    )
    got = [sim.round6(values[r["i"]]) for r in rows]
    assert _bits(got) == _bits([r["r"] for r in rows])


def _compare(spark, residual: bool, seed: int, n: int = 2000):
    rng = np.random.default_rng(seed)
    cells, centers = _codebooks(rng)
    qv = _queries(rng, cells, centers, n)
    cell_list, center_list = cells.tolist(), centers.tolist()

    q = local_frame(
        spark,
        [(i, row) for i, row in enumerate(qv.tolist())],
        "q_id long, qv array<double>",
    )
    ranked = sim.ranked_cells_expr("qv", cell_list)
    sql_ranked = {
        r["q_id"]: r["cells"]
        for r in q.select(
            "q_id", F.transform(ranked, lambda x: x["c"]).alias("cells")
        ).collect()
    }
    driver_ranked = sim.ranked_cells(qv, cell_list)
    assert [sql_ranked[i] for i in range(n)] == driver_ranked

    # every (query, cell) pair, so each probe rank's table is compared
    probes = q.select(
        "q_id",
        "qv",
        F.explode(F.sequence(F.lit(0), F.lit(N_CELLS - 1)).cast("array<long>"))
        .alias("q_cell"),
    )
    sql_lut = {
        (r["q_id"], r["q_cell"]): r["lut"]
        for r in sim.adc_query_side(
            probes, center_list, cell_list if residual else None
        ).collect()
    }
    pairs = [(i, c) for i in range(n) for c in range(N_CELLS)]
    vecs = qv[[i for i, _ in pairs]]
    if residual:
        vecs = vecs - cells[[c for _, c in pairs]]
    driver_lut = sim.adc_tables(vecs, center_list)
    assert _bits([sql_lut[p] for p in pairs]) == _bits(driver_lut)


def test_driver_query_side_equals_sql_raw(spark):
    _compare(spark, residual=False, seed=11)


def test_driver_query_side_equals_sql_residual(spark):
    _compare(spark, residual=True, seed=12)
