"""Declared layer schemas of the persisted indexes (inverted_index.SCHEMAS,
ivf_index.SCHEMAS, tombstones.schema). Every read of an index layer passes
its schema instead of inferring it from parquet footers, which costs a
Spark job per read. Pinned here: each declared schema equals what Spark
infers from the layer after every writer has touched it (build, append,
streaming ingest, delete, compaction, merge), and no package module reads
an index layer without its schema."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import migrate_cassandra_to_mysql_spark
from migrate_cassandra_to_mysql_spark.functions.localframe import local_frame
from migrate_cassandra_to_mysql_spark.operators import (
    inverted_index,
    ivf_index,
    layout,
    tombstones,
)
from migrate_cassandra_to_mysql_spark.operators.similarity import (
    first_k_cell_centroids,
    first_k_pq_centers,
)
from migrate_cassandra_to_mysql_spark.sources.parquet import table as T
from migrate_cassandra_to_mysql_spark.streaming.index_ingest import (
    stream_docs_into_inverted_index,
    stream_vectors_into_ivfpq_index,
)


def _assert_declared(spark, index_dir, schemas, stage):
    for layer, ddl in schemas.items():
        inferred = spark.read.parquet(f"{index_dir}/{layer}").schema
        declared = StructType.fromDDL(ddl)
        assert inferred.simpleString() == declared.simpleString(), (
            stage,
            layer,
        )


def test_inverted_index_schemas_match_every_writer(spark, sf_dir, tmp_path):
    docs = T(spark, sf_dir, "documents")
    d, src, shard = (str(tmp_path / n) for n in ("idx", "src", "shard"))
    inverted_index.build_inverted_index(docs.where(F.col("doc_id") % 3 == 0), d)
    _assert_declared(spark, d, inverted_index.SCHEMAS, "build")
    inverted_index.append_to_inverted_index(
        docs.where(F.col("doc_id") % 3 == 1), d
    )
    _assert_declared(spark, d, inverted_index.SCHEMAS, "append")
    docs.where(F.col("doc_id") % 3 == 2).write.parquet(src)
    stream_docs_into_inverted_index(spark, src, str(tmp_path / "ckpt"), d)
    _assert_declared(spark, d, inverted_index.SCHEMAS, "ingest")
    inverted_index.delete_docs(spark, d, [0, 3])
    _assert_declared(
        spark, d, {"deletes": tombstones.schema("doc_id")}, "delete"
    )
    inverted_index.compact_postings(spark, d)
    _assert_declared(
        spark,
        d,
        {**inverted_index.SCHEMAS, "deletes": tombstones.schema("doc_id")},
        "compact",
    )
    inverted_index.build_inverted_index(
        local_frame(
            spark,
            [(10**9 + i, "fresh shard text") for i in range(4)],
            "doc_id long, text string",
        ),
        shard,
    )
    merged = str(tmp_path / "merged")
    inverted_index.merge_indexes(spark, [d, shard], merged)
    _assert_declared(spark, merged, inverted_index.SCHEMAS, "merge")


def test_ivfadc_schemas_match_every_writer(spark, sf_dir, tmp_path):
    emb = T(spark, sf_dir, "embeddings")
    cells = first_k_cell_centroids(emb, 4)
    centers = first_k_pq_centers(emb, 4, 4)
    d, src, shard = (str(tmp_path / n) for n in ("idx", "src", "shard"))
    ivf_index.build_ivfpq_index(
        emb.where(F.col("vec_id") % 3 == 0), d, cells, centers, residual=True
    )
    _assert_declared(spark, d, ivf_index.SCHEMAS, "build")
    ivf_index.append_to_ivfpq_index(emb.where(F.col("vec_id") % 3 == 1), d)
    _assert_declared(spark, d, ivf_index.SCHEMAS, "append")
    emb.where(F.col("vec_id") % 3 == 2).write.parquet(src)
    stream_vectors_into_ivfpq_index(spark, src, str(tmp_path / "ckpt"), d)
    _assert_declared(spark, d, ivf_index.SCHEMAS, "ingest")
    ivf_index.delete_vectors(spark, d, [0, 3])
    _assert_declared(
        spark, d, {"deletes": tombstones.schema("vec_id")}, "delete"
    )
    ivf_index.compact_codes(spark, d)
    _assert_declared(
        spark,
        d,
        {**ivf_index.SCHEMAS, "deletes": tombstones.schema("vec_id")},
        "compact",
    )
    ivf_index.build_ivfpq_index(
        emb.where(F.col("vec_id") < 8).withColumn(
            "vec_id", F.col("vec_id") + 10**9
        ),
        shard,
        cells,
        centers,
        residual=True,
    )
    merged = str(tmp_path / "merged")
    ivf_index.merge_indexes(spark, [d, shard], merged)
    _assert_declared(spark, merged, ivf_index.SCHEMAS, "merge")


# The layout helpers that read a layer; each call must pass its schema.
_SCHEMA_READERS = {
    "read_parquet_retry": 3,  # positional arity that includes the schema
    "merge_sharded_layer": None,
}
# Modules that own the IVFADC, inverted-index and tombstone layers.
_INDEX_MODULES = (
    "operators/inverted_index.py",
    "operators/ivf_index.py",
    "operators/tombstones.py",
    "streaming/index_ingest.py",
)
# The flat IVF and binary-quantized indexes in ivf_index.py keep layers
# typed by the caller's codebook and embeddings (codebook/, corpus/, and
# the BQ codes/), so they declare no schema.
_UNDECLARED = {"load_codebook", "ivf_search", "bq_search"}


def _name(func) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


def _calls_by_function(tree):
    """(enclosing top-level function or None, call node) pairs."""
    for top in tree.body:
        owner = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                yield owner, node


def test_no_package_module_reads_an_index_layer_without_its_schema():
    """Every layout read helper call in the package passes a schema, and
    the index modules never call `<session>.read.parquet` directly (a
    schema-bearing read goes through `read.schema(...)` or the helpers)."""
    # a helper deleted from layout must leave this guard too
    assert all(hasattr(layout, name) for name in _SCHEMA_READERS)
    root = pathlib.Path(migrate_cassandra_to_mysql_spark.__file__).parent
    missing = []
    for path in sorted(root.rglob("*.py")):
        rel = str(path.relative_to(root))
        tree = ast.parse(path.read_text())
        for owner, call in _calls_by_function(tree):
            name = _name(call.func)
            if name in _SCHEMA_READERS:
                arity = _SCHEMA_READERS[name]
                has_schema = any(kw.arg == "schema" for kw in call.keywords)
                if arity is not None and len(call.args) >= arity:
                    has_schema = True
                if not has_schema:
                    missing.append(f"{rel}:{call.lineno} {name}")
            elif (
                rel in _INDEX_MODULES
                and owner not in _UNDECLARED
                and name == "parquet"
                and isinstance(call.func.value, ast.Attribute)
                and call.func.value.attr == "read"
            ):
                missing.append(f"{rel}:{call.lineno} read.parquet")
    assert missing == []
