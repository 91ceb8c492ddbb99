"""The MinHash signature kernel and the two lsh_candidates paths.

The kernel builds shingles without a lambda and parses each md5 in
64-bit words; these tests hold the previous expressions (a `transform`
lambda per document, one `conv` per 4-hex-char lane) as the reference.
lsh_candidates finishes signature sets within the broadcast bound on the
driver and runs the bucket-and-unfold chain above it; a threshold of -1
(broadcast off) forces the distributed chain."""

from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark.functions.localframe import (
    is_local,
    local_frame,
)
from migrate_cassandra_to_mysql_spark.operators import components, dedup

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

TEXTS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, None),
    (3, ""),
    (4, "   "),
    (5, "tab\tseparated\nnew line  words\t"),
    (6, "one"),
    (7, "two words"),
    (8, "naïve café über straße 東京 タワー ё"),
    (9, "  leading and trailing spaces  "),
    (10, "repeat repeat repeat repeat repeat repeat"),
    (None, "a null doc id with several words in it"),
]


@contextmanager
def _threshold(spark, value):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, str(value))
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _bag(df):
    return Counter(tuple(r) for r in df.collect())


def _reference_shingles(docs, k):
    """The lambda form the kernel replaced: one transform per document."""
    toks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= {k} THEN "
                f"transform(sequence(0, size(toks) - {k}),"
                f" i -> concat_ws(' ', slice(toks, i + 1, {k})))"
                f" ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("shingle"),
    )


def _reference_signatures(docs, k, n_hashes):
    """Lane h = the 4-hex-char slice h % 8 of md5 group h // 8, parsed
    base 16 on its own (the oracle's definition)."""
    m = _reference_shingles(docs, k).select(
        "doc_id",
        *[
            (
                F.md5("shingle")
                if g == 0
                else F.md5(F.concat_ws("#", F.lit(str(g)), "shingle"))
            ).alias(f"m{g}")
            for g in range((n_hashes + 7) // 8)
        ],
    )
    return m.groupBy("doc_id").agg(
        *[
            F.min(
                F.conv(F.substring(f"m{h // 8}", (h % 8) * 4 + 1, 4), 16, 10)
                .cast("long")
            ).alias(f"mh{h}")
            for h in range(n_hashes)
        ]
    )


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(TEXTS, "doc_id bigint, text string")


@pytest.mark.parametrize("k", [1, 2, 3, 5])
def test_kernel_matches_the_lambda_reference(spark, texts, k):
    got = dedup._raw_shingles(texts, "text", k)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in plan
    assert _bag(got) == _bag(_reference_shingles(texts, k))

    ref = _reference_signatures(texts, k, 16)
    for n in (1, 5, 8, 12, 16):
        sig = dedup.minhash_signatures(texts, k=k, n_hashes=n)
        assert sig.columns == ["doc_id"] + [f"mh{h}" for h in range(n)]
        cols = ["doc_id"] + [f"mh{h}" for h in range(n)]
        assert _bag(sig) == _bag(ref.select(*cols)), (k, n)


def test_kernel_parses_each_md5_in_two_words(spark, texts):
    for n, n_conv in ((1, 1), (4, 1), (5, 2), (8, 2), (12, 3), (16, 4)):
        plan = (
            dedup.minhash_signatures(texts, n_hashes=n)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert plan.count("conv(") == n_conv, (n, plan)


def _corpus(spark, id_type="bigint"):
    """Near-duplicate families plus distinct docs and a null id."""
    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "red orange yellow green blue indigo violet black white grey",
        "one two three four five six seven eight nine ten eleven",
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
    ]
    rows, i = [], 0
    for f, text in enumerate(base):
        for v in range(4):
            words = text.split()
            if v:
                words[-v] = f"edit{f}{v}"
            rows.append((i, " ".join(words)))
            i += 1
    rows += [(100 + j, f"unique doc {j} says w{j} x{j} y{j}") for j in range(6)]
    rows.append((None, base[0]))
    if id_type == "string":
        rows = [(None if d is None else f"d{d:03d}", t) for d, t in rows]
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string")


def _catalog_docs(spark, sf_dir):
    """The catalog's dedup corpus: sf0.001 documents with injected
    near-duplicates."""
    from migrate_cassandra_to_mysql_spark.plans.textplans import (
        _inject_dups_spark,
    )
    from migrate_cassandra_to_mysql_spark.sources.parquet import table

    return _inject_dups_spark(table(spark, sf_dir, "documents"))


def _both_paths(docs, **kw):
    spark = docs.sparkSession
    driver = dedup.lsh_candidates(docs, **kw)
    assert is_local(driver)
    with _threshold(spark, -1):
        dist = dedup.lsh_candidates(docs, **kw)
        assert not is_local(dist)
        dist_rows = _bag(dist)
    assert driver.dtypes == dist.dtypes
    assert _bag(driver) == dist_rows
    return dist_rows


@pytest.mark.parametrize("id_type", ["bigint", "int", "string"])
def test_paths_agree_on_a_small_corpus(spark, id_type):
    docs = _corpus(spark, id_type)
    rows = _both_paths(docs, k=3, n_hashes=8, band_size=2)
    assert rows and all(a < b and 1 <= n <= 4 for a, b, n in rows)
    wide = _both_paths(docs, k=2, n_hashes=12, band_size=3)
    assert all(n <= 4 for _, _, n in wide)


def test_paths_agree_on_the_catalog_corpus(spark, sf_dir):
    base = _catalog_docs(spark, sf_dir)
    assert _both_paths(base, k=3, n_hashes=8, band_size=2)


def _identical(spark, n):
    text = "the same boilerplate sentence copied into every document"
    return spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id bigint, text string"
    )


def test_bounds_cross_at_the_shared_helper(spark):
    """Signatures cost (n_hashes + 1) * 8 = 72 bytes per row and pairs
    CC's 16 bytes per edge: the driver path holds exactly up to both."""
    docs = _identical(spark, 6)  # 4 bands x C(6, 2) = 60 pairs
    expected = Counter({(a, b, 4): 1 for a in range(6) for b in range(a + 1, 6)})
    with _threshold(spark, 16 * 60):
        at = dedup.lsh_candidates(docs)
        assert is_local(at)
    with _threshold(spark, 16 * 60 - 1):
        above = dedup.lsh_candidates(docs)
        assert not is_local(above)
        above_rows = _bag(above)
    assert _bag(at) == above_rows == expected

    distinct = spark.createDataFrame(
        [(i, f"doc {i} says w{i} x{i} y{i}") for i in range(6)],
        "doc_id bigint, text string",
    )
    with _threshold(spark, 72 * 6):
        assert is_local(dedup.lsh_candidates(distinct))
    with _threshold(spark, 72 * 6 - 1):
        over = dedup.lsh_candidates(distinct)
        assert not is_local(over)
        assert over.count() == 0


def _counted(spark, docs):
    """docs with its text passed through a Python UDF that counts rows:
    each run of the signature map stage adds len(docs)."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def seen(text):
        acc.add(1)
        return text

    return docs.withColumn("text", seen("text")), acc


@pytest.mark.parametrize("cause", ["pair_budget", "signature_rows"])
def test_fallback_runs_the_signature_stage_once(spark, cause):
    n = 40
    docs, acc = _counted(spark, _identical(spark, n))
    # 40 identical docs unfold 4 x 780 pairs; their 40 signatures fit
    # 72 * 40 bytes, the pairs do not. At 72 * 39 the signatures do not.
    threshold = 72 * n if cause == "pair_budget" else 72 * (n - 1)
    with _threshold(spark, threshold):
        pairs = dedup.lsh_candidates(docs)
        assert not is_local(pairs)
        rows = _bag(pairs)
    spark.catalog.clearCache()
    assert acc.value == n
    assert rows == Counter(
        {(a, b, 4): 1 for a in range(n) for b in range(a + 1, n)}
    )


def test_distributed_chain_keeps_three_exchanges(spark, sf_dir):
    from tools.plan_snapshot import plan_features

    spark.catalog.clearCache()
    base = _catalog_docs(spark, sf_dir)
    with _threshold(spark, -1):
        pairs = dedup.lsh_candidates(base, k=3, n_hashes=8, band_size=2)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    spark.catalog.clearCache()
    feats = plan_features(plan)
    assert feats["exchanges"] == 3, plan
    assert feats["sort_merge_joins"] == 0 and feats["broadcast_hash_joins"] == 0


def test_curation_chain_job_budget(spark, sf_dir, tmp_path):
    """lsh_candidates -> dedup_clusters -> canonical_keep plus the keep
    write, as one curation pass runs them: at most 8 Spark jobs (the
    signature fetch, the edge fetch, canonical_keep's stages and the
    write)."""
    spark.catalog.clearCache()
    docs = _catalog_docs(spark, sf_dir)
    quality = docs.select("doc_id", F.length("text").alias("quality"))
    sc = spark.sparkContext
    group = "test_lsh_driver_finish.curation_jobs"
    sc.setJobGroup(group, "curation job budget")
    try:
        pairs = dedup.lsh_candidates(docs)
        clusters = components.dedup_clusters(docs, pairs)
        keep = components.canonical_keep(clusters, quality)
        keep.select("doc_id", "component", "canonical_id", "keep").write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "keep.parquet"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 8, n_jobs


def test_components_fetch_a_local_edge_frame_without_a_checkpoint(spark):
    """A local edge frame is fetched as it is: one job and no
    checkpoint. Above the bound it runs distributed from the same frame,
    with the same rows."""
    edges = local_frame(
        spark, [(1, 2), (2, 3), (7, 8)], "doc_a bigint, doc_b bigint"
    )
    sc = spark.sparkContext
    group = "test_lsh_driver_finish.local_edges"
    sc.setJobGroup(group, "local edge fetch")
    try:
        comp = components.connected_components(edges, "doc_a", "doc_b")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert is_local(comp)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    with _threshold(spark, 16 * 2):
        dist = components.connected_components(edges, "doc_a", "doc_b")
        assert not is_local(dist)
        dist_rows = _bag(dist)
    assert _bag(comp) == dist_rows == Counter(
        {(1, 1): 1, (2, 1): 1, (3, 1): 1, (7, 7): 1, (8, 7): 1}
    )
