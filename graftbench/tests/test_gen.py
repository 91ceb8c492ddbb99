"""One seed regenerates identical inputs and planted truth; another seed
does not. Run from the repository root:

    python3 -m pytest graftbench/tests -q
"""

from __future__ import annotations

import pytest

from graftbench import gen


def _everything(seed: int) -> str:
    base, nxt = gen.files_generations(seed, 400)
    cur = gen.curation_corpus(seed, 300)
    ret = gen.retrieval_inputs(seed, 200, 300, n_queries=8, n_appends=16, k=5)
    return gen.fingerprint(
        base.table,
        base.expected,
        base.payload_bytes,
        nxt.table,
        nxt.expected,
        nxt.payload_bytes,
        cur.table,
        cur.clusters,
        cur.keep,
        ret.docs,
        ret.doc_appends,
        ret.bm25_queries,
        ret.vectors,
        ret.vec_appends,
        ret.ann_queries,
        ret.ann_truth,
        ret.cell_centroids,
        ret.pq_centers,
    )


def test_same_seed_regenerates_identical_inputs_and_truth():
    assert _everything(7) == _everything(7)


def test_other_seed_gives_other_inputs_and_truth():
    assert _everything(7) != _everything(8)


@pytest.mark.parametrize("seed", [1, 2])
def test_files_truth_matches_the_generation_rules(seed):
    base, nxt = gen.files_generations(seed, 1000)
    ids = base.table.column("id").to_pylist()
    assert len(set(ids)) == len(base.expected) == 1000
    assert len(ids) - len(set(ids)) == int(1000 * gen.DUP_FRAC)
    # every base key comes back in the next generation, plus new keys
    assert set(base.expected) < set(nxt.expected)
    assert len(nxt.expected) == 1000 + int(1000 * gen.NEW_FRAC)
    changed = sum(1 for k, r in base.expected.items() if nxt.expected[k] != r)
    assert 0 < changed < 1000 * 3 * gen.CHANGE_FRAC
    # NULLs in every sanitized column land as '' / the default timestamp
    col = gen.TARGET_COLUMNS.index("modified")
    assert any(r[col] == gen.TS_DEFAULT for r in base.expected.values())
    assert all(r[1] is not None for r in base.expected.values())


def test_curation_truth_is_one_canonical_per_cluster():
    cur = gen.curation_corpus(3, 500)
    assert len(cur.keep) == len(cur.clusters)
    for c in cur.clusters:
        assert len(set(c) & cur.keep) == 1
    assert cur.table.num_rows == 500
    assert len(set(cur.table.column("doc_id").to_pylist())) == 500


def test_vector_appends_never_enter_a_reference_answer():
    ret = gen.retrieval_inputs(4, 100, 400, n_queries=8, n_appends=32, k=5)
    assert len(ret.vec_appends) == 32
    assert all(len(v) == 5 for v in ret.ann_truth.values())
    assert {v[0] for v in ret.vec_appends} == set(range(400, 432))
