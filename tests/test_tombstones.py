"""operators/tombstones: the one module that knows the tombstone layer
both persisted indexes share. Behaviour (delete, serve-side masking,
purge, reset, re-add probes, shard merges) is pinned through the indexes
in test_inverted_index.py, test_ivf_index.py and test_index_ingest.py;
this file pins that the layer stays in one place."""

import pathlib
import re

import migrate_cassandra_to_mysql_spark


def test_tombstone_layer_names_live_only_in_tombstones_module():
    """The layer's on-disk names — the live `deletes` dir and its
    `_snapshot.json` membership, the `deletes.new` staging dir and the
    deleters' `deletes.rmw` lock — are spelled in operators/tombstones.py
    only; every index reaches the layer through that module."""
    root = pathlib.Path(migrate_cassandra_to_mysql_spark.__file__).parent
    name = re.compile(r"""["'/]deletes\b|deletes\.(new|rmw)""")
    hits = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if name.search(p.read_text())
    )
    assert hits == ["operators/tombstones.py"]
