"""Distributed connected components — duplicate-cluster resolution.

LSH / MinHash candidate generation (operators/dedup.py) emits near-dup
PAIRS; an actual dedup pass needs CLUSTERS: if A~B and B~C, then {A, B, C}
is one duplicate group with one survivor, even when (A, C) never surfaced
as a candidate pair. That pair→cluster step is connected components over
the candidate graph.

Algorithm: minimum-label propagation. Every node starts labeled with its
own id; each round, every node adopts the smallest label among itself and
its neighbors; converged when no label changes. Each round is one
shuffle join (edges ⋈ labels on the edge source) plus one partial-agg
min-groupBy — both keyed on node id, so with AQE the two stages reuse one
partitioning. Rounds needed = graph diameter.

Scale rationale (100 TB):
  - Near-dup graphs are dense blobs (LSH buckets emit cliques), so the
    diameter — and the round count — is small (2-4 in practice); this is
    the regime where plain label propagation beats the O(log n)
    alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): star
    contraction pays edge-set rewrites per round to win on long-chain
    graphs that dedup workloads don't produce. For adversarial chains,
    `max_iter` bounds the work and the convergence flag reports
    non-convergence instead of silently looping.
  - A small edge set finishes on the driver. When the candidate graph
    fits the session's `spark.sql.autoBroadcastJoinThreshold` at 16
    bytes per edge (655,360 edges at the 10 MB default), one bounded
    fetch collects it and a BFS from each component's minimum id labels
    it; the result is a local relation, so downstream joins broadcast
    it. There the cost of the distributed form is fixed per-job
    scheduling (a checkpoint, a persist and one job per round), not
    data. A threshold <= 0 (broadcast off) always runs distributed.
  - Per round only (id, label) pairs shuffle — 16 bytes/node — never the
    documents themselves.
  - Every loop in this module runs on `lineage.checkpointed_rounds`:
    each round is localCheckpoint-ed (O(1)-deep lineage — a frame
    referenced twice per round would otherwise double its analyzed plan
    every iteration, and Catalyst's plan stringification alone OOMs the
    driver on long-chain graphs) and materialized in one job, and the
    previous round's blocks are freed. Convergence probes are full-frame
    1-row aggregates that double as that materializing job, never a
    data collect.

The reference has no graph step (its dedup is key-level INSERT IGNORE,
snapshot_use_pyspark.py:456); this is engine-added surface for the
training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType
from pyspark.storagelevel import StorageLevel

from migrate_cassandra_to_mysql_spark.functions.localframe import (
    collect_within_bound,
    is_local,
    local_frame,
)

from .lineage import checkpointed_rounds, free_local_checkpoint


# Bytes per (long, long) edge when sizing the driver-side finish against
# spark.sql.autoBroadcastJoinThreshold (localframe.driver_row_bound).
EDGE_BYTES = 16


def _ddl_type(df: DataFrame, col: str) -> str:
    """The DDL type string of `df[col]` (e.g. 'bigint', 'string'), for
    building a driver-side frame whose column matches the input's."""
    return df.schema[col].dataType.simpleString()


def _small_edge_list(ek: DataFrame) -> list | None:
    """The (s, d) rows of the edge frame when the driver can finish them:
    at most driver_row_bound(spark, EDGE_BYTES) edges (none when
    broadcast is off), with non-null ids of one integral or string type.
    None otherwise."""
    id_type = ek.schema["s"].dataType
    if id_type != ek.schema["d"].dataType or not isinstance(
        id_type, (IntegralType, StringType)
    ):
        return None
    rows = collect_within_bound(ek, EDGE_BYTES)
    if rows is None or any(s is None or d is None for s, d in rows):
        return None
    return rows


def _components_on_driver(pairs: list, max_iter: int) -> list[tuple]:
    """(id, component) rows for a collected edge list, by BFS from each
    unvisited node in ascending id order, so each BFS root is its
    component's minimum id. Raises exactly when min-label propagation
    would: it needs D + 1 rounds, D the deepest BFS level below a root."""
    adj: dict = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    comp: dict = {}
    # Python orders ints numerically and strs by code point, as Spark
    # orders longs and UTF-8 bytes, so each root is Spark's min too.
    for root in sorted(adj):
        if root in comp:
            continue
        comp[root] = root
        frontier, depth = [root], -1
        while frontier:
            depth += 1
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in comp:
                        comp[v] = root
                        nxt.append(v)
            frontier = nxt
        if depth + 1 > max_iter:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
    return list(comp.items())


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) for every node appearing in `edges`.

    `component` is the minimum node id reachable from `id` — a canonical,
    deterministic cluster representative (ideal as the dedup survivor
    key). Raises RuntimeError when min-label propagation would not reach
    its fixpoint within `max_iter` rounds (it needs D + 1, D the largest
    BFS depth from a component's minimum id; never observed on dedup
    graphs, reachable via max_iter set below the diameter).

    Two paths, one answer:
      - at most `spark.sql.autoBroadcastJoinThreshold` / 16 edges
        (655,360 at the 10 MB default) with non-null integral or string
        ids: the edges are collected in one bounded fetch and the
        components computed on the driver; the result is a local
        relation and nothing stays persisted;
      - otherwise (and always when the threshold is <= 0): distributed
        min-label propagation on `lineage.checkpointed_rounds`.
    Any input that is not already a local relation (lsh_candidates'
    driver finish returns one) is eagerly checkpointed first, so the
    caller's pipeline runs exactly once although the distributed path
    references it twice (forward + reversed) and the driver path
    fetches from it. A local relation has no pipeline to protect and is
    used as it is on either path.
    """
    ek = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if not is_local(ek):
        ek = ek.localCheckpoint(eager=True)
    rows = _small_edge_list(ek)
    if rows is not None:
        free_local_checkpoint(ek)
        t = _ddl_type(ek, "s")
        return local_frame(
            ek.sparkSession,
            _components_on_driver(rows, max_iter),
            f"id {t}, component {t}",
        )

    sym = (
        ek.union(ek.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        sym.select(F.col("s").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint(eager=True)
    )

    def step(labels: DataFrame) -> DataFrame:
        # Each node's new label: min over its own and neighbors'. The
        # old component is right there in the join, so the row also
        # flags whether it changed — the round's probe sums the flags.
        neighbor_min = (
            sym.join(labels, sym["d"] == labels["id"])
            .groupBy(F.col("s").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new = F.least("component", F.coalesce("nbr_min", "component"))
        return labels.join(neighbor_min, "id", "left").select(
            "id",
            new.alias("component"),
            (new < F.col("component")).cast("int").alias("chg"),
        )

    try:
        for labels, n_changed in checkpointed_rounds(
            labels, step, max_iter, F.sum("chg")
        ):
            if not n_changed:
                return labels.select("id", "component")
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    finally:
        sym.unpersist()
        free_local_checkpoint(ek)


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
) -> DataFrame:
    """(doc_id, component, is_survivor) for EVERY document.

    Documents with no candidate pair are singleton components of
    themselves. The survivor is the minimum doc_id in each component —
    deterministic, so an idempotent sink (sinks/idempotent.py) re-running
    the pass keeps the same rows.
    """
    comp = connected_components(pairs, src=pair_a, dst=pair_b)
    return (
        docs.select(id_col)
        .join(comp, docs[id_col] == comp["id"], "left")
        .select(
            docs[id_col],
            F.coalesce("component", docs[id_col]).alias("component"),
            (F.coalesce("component", docs[id_col]) == docs[id_col]).alias(
                "is_survivor"
            ),
        )
    )


def canonical_keep(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_order: "list | None" = None,
) -> DataFrame:
    """Cluster-canonical selection — the curation DECISION a dedup pass
    feeds: within every duplicate cluster keep exactly one document, the
    best by a quality criterion, and emit per-doc keep/drop rows.
    `clusters` is dedup_clusters' output (id, component, is_survivor);
    `quality` carries id_col + the criterion columns; `quality_order`
    is the within-cluster preference (default: highest `quality`
    column, ties to the lowest id — a clone never beats its original).
    Returns (id_col, component, <quality cols...>, canonical_id, keep).

    Unlike dedup_clusters' min-id survivor (an arbitrary-but-
    deterministic pick), the canonical is quality-aware — "keep the
    longest/cleanest copy" — which is what production pipelines
    actually do before dropping near-dups.

    Scale shape: one equi-join on id (quality attaches to the cluster
    rows) and ONE hash exchange on component for the window; the
    canonical is first_value over the full frame, so no second join or
    self-aggregation re-shuffles the corpus. Clusters are tiny (near-
    dup groups), so the window's per-partition state is bounded."""
    from pyspark.sql import Window

    joined = clusters.join(quality, id_col)
    if quality_order is None:
        quality_order = [F.desc("quality"), F.asc(id_col)]
    w = (
        Window.partitionBy("component")
        .orderBy(*quality_order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        joined.withColumn("canonical_id", F.first(id_col).over(w))
        .withColumn("keep", F.col(id_col) == F.col("canonical_id"))
        .drop("is_survivor")
    )


def _out_weighted(
    edges: DataFrame, src: str, dst: str, outdeg_col: str | None
) -> tuple[DataFrame, DataFrame]:
    """The persisted (src, dst, n_out) edge frame pagerank and PPR walk,
    plus the lazy (src, n_out) out-degree frame. An `outdeg_col` already
    on every edge row (the memoized co-purchase pair parquet) skips the
    edge-sized aggregation + SortMergeJoin the default path pays."""
    if outdeg_col is not None:
        n_out = F.col(outdeg_col).cast("long").alias("n_out")
        outdeg = edges.select(F.col(src).alias("src"), n_out).dropDuplicates(
            ["src"]
        )
        ed = edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), n_out
        )
    else:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        outdeg = e.groupBy("src").agg(
            F.count(F.lit(1)).cast("long").alias("n_out")
        )
        ed = e.join(outdeg, "src")
    return ed.persist(StorageLevel.MEMORY_AND_DISK), outdeg


def _contrib_sums(ed: DataFrame, ranks: DataFrame) -> DataFrame:
    """(dst, s): the walked-in mass per node, sum over u->dst of
    rank(u)/n_out(u), each term rounded to 12 dp and summed as
    DECIMAL(28,12) — exact and order-independent under any join
    strategy or partitioning (the oracle twins' contract)."""
    contrib = ed.join(ranks, ed["src"] == ranks["node"]).select(
        "dst",
        F.round(F.col("rank") / F.col("n_out"), 12)
        .cast("decimal(28,12)")
        .alias("c"),
    )
    return contrib.groupBy("dst").agg(F.sum("c").alias("s"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 5,
    redistribute_dangling: bool = False,
    tol: float | None = None,
    outdeg_col: str | None = None,
) -> DataFrame:
    """(node, rank) after synchronous power iterations of PageRank over a
    directed edge list:

        rank'(v) = (1-d)/N + d * (sum_{u->v} rank(u)/outdeg(u) [+ D/N])

    Two production options on top of the fixed-iteration oracle twin:
      - `redistribute_dangling=True`: mass held by dangling nodes (no
        out-edges) is spread uniformly (the D/N term above), so total
        rank mass is conserved at exactly 1.0 per iteration. The default
        False keeps the documented simple variant that the DuckDB oracle
        mirrors — on the symmetric co-purchase graphs the catalog feeds
        it, every node has out-edges, so the two variants coincide.
      - `tol`: when set, iteration stops early once the L1 delta
        sum(|rank' - rank|) drops below `tol`; `n_iter` becomes the cap.
        Each round's row carries its own |rank' - rank| (the update's
        left side is the previous ranks, not the node set), and the
        delta is the round's probe — the 1-row aggregate that
        materializes the round, never a data collect or a second join.
      - `outdeg_col`: name of a column of `edges` that already holds each
        src's out-degree, used instead of aggregating it here.
        PRECONDITION (unchecked): n_out equals the per-src row count on
        every row — the count of `edges` rows with that src. A stale or
        partial degree silently mis-weights every contribution.

    Determinism contract (shared with the DuckDB oracle): each
    contribution rank/outdeg is rounded to 12 dp and summed as
    DECIMAL(28,12) — exact and order-independent, so a 1000-executor run
    is bit-identical to a single-threaded one. The damping constants are
    combined with the same IEEE ops on both engines ((1.0 - d)/N, no
    transcendental functions), so ranks need no per-iteration tolerance.
    The dangling sum uses the same 12-dp DECIMAL discipline.

    Scale shape: the loop shuffles only (node, rank) pairs — 16 bytes per
    node per iteration — against a persisted (src, dst, outdeg) edge
    frame; rounds run on `lineage.checkpointed_rounds`, so lineage is
    O(1) deep in fact, not just intent (the dangling term references
    ranks twice per round). N rides as a broadcast 1-row aggregate,
    never a driver-side count action. localCheckpoint stores blocks on
    executors — a production run that must survive executor loss should
    set a reliable `spark.sparkContext.setCheckpointDir` deployment-side
    and swap in `checkpoint()`; semantics are identical.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ed, outdeg = _out_weighted(edges, src, dst, outdeg_col)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Dangling set: nodes with no out-edges (left-anti vs outdeg keys).
    dangling = nodes.join(
        outdeg.select(F.col("src").alias("node")), "node", "left_anti"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_df = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    teleport = F.lit(1.0) - F.lit(damping)
    ranks = (
        nodes.crossJoin(F.broadcast(n_df))
        .select("node", (F.lit(1.0) / F.col("n_nodes")).alias("rank"))
        .localCheckpoint(eager=True)
    )

    def step(ranks: DataFrame) -> DataFrame:
        sums = _contrib_sums(ed, ranks)
        # With `tol` the previous ranks are the left side, so each row
        # carries its old rank for the L1 probe. The default keeps the
        # node set there: the plain update needs no old rank.
        left = ranks if tol is not None else nodes
        base = left.join(sums, left["node"] == sums["dst"], "left")
        extra = F.lit(0.0)
        if redistribute_dangling:
            # 1-row broadcast scalar: total rank mass on dangling
            # nodes this round (same order-independent DECIMAL sum).
            d_mass = dangling.join(ranks, "node").agg(
                F.coalesce(
                    F.sum(
                        F.round(F.col("rank"), 12).cast("decimal(28,12)")
                    ).cast("double"),
                    F.lit(0.0),
                ).alias("d_mass")
            )
            base = base.crossJoin(F.broadcast(d_mass))
            extra = F.col("d_mass") / F.col("n_nodes")
        rank = teleport / F.col("n_nodes") + F.lit(damping) * (
            F.coalesce(F.col("s").cast("double"), F.lit(0.0)) + extra
        )
        cols = ["node", rank.alias("rank")]
        if tol is not None:
            cols.append(F.abs(rank - F.col("rank")).alias("l1"))
        return base.crossJoin(F.broadcast(n_df)).select(*cols)

    probe = F.sum("l1") if tol is not None else None
    try:
        for ranks, delta in checkpointed_rounds(ranks, step, n_iter, probe):
            if delta is not None and delta < tol:
                break
        return ranks.select("node", "rank")
    finally:
        ed.unpersist()
        nodes.unpersist()
        dangling.unpersist()


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 5,
    broadcast_frontier: bool = False,
    broadcast_row_cap: int = 2_000_000,
    outdeg_col: str | None = None,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """(node, rank) after synchronous power iterations of PERSONALIZED
    PageRank (random-walk-with-restart) over a directed edge list:

        rank'(v) = (1-d) * t(v) + d * sum_{u->v} rank(u)/outdeg(u)

    where the teleport vector t restarts the walk at the SEED set
    instead of uniformly: t(v) = 1/|S| for v in `seeds` (a 1-column
    DataFrame of node ids), 0 elsewhere; rank_0 = t. The result is a
    seed-relative affinity score — the recommendation / related-items
    primitive (Page et al. 1999 §6 personalized vector; Tong et al.
    2006 RWR) beside global pagerank's query-independent centrality.
    A seed id absent from the edge list's node set is dropped (it still
    counts in |S|, so its 1/|S| restart mass leaves the system — the
    caller contract is seeds drawn from the graph).

    `outdeg_col` names a column of `edges` holding each src's
    out-degree, used instead of aggregating it here. PRECONDITION
    (unchecked): n_out equals the per-src row count on every row — the
    count of `edges` rows with that src. A stale or partial degree
    silently mis-weights every contribution.

    Determinism contract (identical to `pagerank`, shared with the
    DuckDB oracle twin): contributions round to 12 dp and sum as
    DECIMAL(28,12) — exact and order-independent, so a 1000-executor
    run is bit-identical to a single-threaded one; the teleport term is
    computed as the single quotient (1.0-d)/|S| on both engines (NOT
    (1-d)*(1/|S|), which differs in the last ulp at |S|=3,6,12,...).
    With seeds = ALL nodes the recursion is exactly global
    pagerank's (t = uniform), pinned by test.

    Scale shape (the `pagerank` discipline, plus the SPARSE loop
    state): the loop shuffles only frontier-sized (node, rank) pairs
    against a persisted (src, dst, outdeg) edge frame; |S| rides as a
    broadcast 1-row aggregate; the rank vector carries only nodes the
    walk has touched (the dense expansion happens once, at the end).
    `broadcast_frontier=True` additionally ships the frontier to every
    executor so the edge frame is never shuffled — guarded by
    `broadcast_row_cap` (falls back to the shuffle join once the walk
    has touched more rows than the cap, since a small-world k-hop
    neighborhood can approach the full node set); either join strategy
    yields bit-identical ranks (pinned by the A/B test). Rounds run
    on `lineage.checkpointed_rounds`; with `broadcast_frontier` the
    round's probe is its row count, which feeds the row-cap guard.
    Mass that walks into dangling nodes leaves the system (the simple
    variant the oracle mirrors; the catalog feeds symmetric co-purchase
    graphs where every node has out-edges, so no mass is lost there —
    pinned by the mass-conservation test).

    The reference has no graph step (snapshot_use_pyspark.py:216-224
    scans are row-parallel); engine-added training-pipeline surface.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ed, _ = _out_weighted(edges, src, dst, outdeg_col)
    # Checkpointed, not persisted: the RETURNED frame references the
    # node set (the final sparse-to-dense expansion), so an unpersist
    # in `finally` would force the caller's first action to recompute
    # the distinct; the checkpoint materializes it once and the
    # serving plan reads executor-local blocks. A caller that already
    # materialized the distinct node set (e.g. to pick seeds from it)
    # passes it via `nodes` (r15, guide §2.4) — the union-distinct is
    # an edge-wide shuffle, and paying it twice per call was the
    # single biggest seed-phase cost in the split probe.
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=True)
        )
    # Seed sets are QUERY-SIZED by contract (docstring) — collect them
    # once (r15; the previous shape ran three control-plane jobs here:
    # an emptiness probe, a count aggregate, and a 3-row checkpoint)
    # and build the teleport frame as a pure-JVM local relation whose
    # node column keeps the seed column's type.
    seed_nodes = seeds.select(F.col(seeds.columns[0]).alias("node"))
    seed_rows = seed_nodes.distinct().collect()
    # Loud contract check: an EMPTY seed set would otherwise yield
    # tp = 0 everywhere, an empty frontier every round, and an
    # all-zero rank vector that downstream top-k consumers would
    # treat as a valid answer.
    if not seed_rows:
        raise ValueError(
            "personalized_pagerank: empty seed set — the restart "
            "distribution is undefined (every rank would be 0.0)"
        )
    n_seeds = len(seed_rows)
    # Seed-only teleport frame (|S| rows): `tp` (the restart
    # probability, 1/|S| — the rank_0 init, the same single division
    # as pagerank's 1.0/n init) and `tp_upd` (the per-round teleport
    # TERM, (1-d)/|S| — again ONE division). Computing the term as
    # (1-d)*(1/|S|) instead is NOT IEEE-identical to pagerank's
    # (1-d)/n for every count (e.g. n=6: the product and the quotient
    # differ in the last ulp), which would break the all-seeds ==
    # global-pagerank bit-equality the tests pin. The DuckDB oracle
    # twin mirrors the same quotient — and Python's float division IS
    # the identical IEEE-754 double op the JVM ran here before (the
    # local_frame bit-exactness contract), pinned by
    # tests/test_pagerank.py's oracle/broadcast equality tests.
    #
    # The LOOP STATE is kept SPARSE (late r12): a node absent from the
    # rank frame holds rank exactly 0.0 by construction — (1-d)*0 +
    # d*round(0/n_out)-sums reduce to 0.0 — so carrying the full node
    # set through every round only materialized node-sized zero rows
    # five times over (measured: the node-sized tp-join + checkpoint
    # dominated the loop at 24M edges). Rounds now touch |frontier| +
    # |out-neighborhood| rows only; the full node set is expanded ONCE
    # at the end with an exact-0.0 coalesce, bit-identical output.
    tp = 1.0 / n_seeds
    tp_upd = (1.0 - damping) / n_seeds
    seed_tp = local_frame(
        edges.sparkSession,
        [(r["node"], tp, tp_upd) for r in seed_rows],
        f"node {_ddl_type(seed_nodes, 'node')}, tp double, tp_upd double",
    )
    st = seed_tp.select("node", "tp_upd")
    # rank_0 is a |S|-row LOCAL relation — flat lineage by construction,
    # no checkpoint job needed, and its row count is known exactly.
    ranks = seed_tp.select("node", F.col("tp").alias("rank"))
    ranks_n = n_seeds

    def step(ranks: DataFrame) -> DataFrame:
        # Frontier filter — the seeded walk's scale edge over the
        # global loop: rank is EXACTLY 0.0 until the walk reaches a
        # node ((1-d)*0.0 + d*0.0 stays 0.0; untouched DECIMAL sums
        # reduce to 0E-12 -> 0.0), and zero ranks contribute
        # round(0/n_out) = 0 to every sum, identical to absence. So
        # the contribution join is FRONTIER-sized — |S| nodes in
        # round 1, growing hop by hop — instead of node-sized, and
        # results are bit-identical (pinned by the reference tests,
        # which run nodes the walk never reaches).
        frontier = ranks.where(F.col("rank") != 0.0)
        # broadcast_frontier=True additionally ships the frontier
        # to every executor so the EDGE side is never shuffled or
        # sorted: each round is then one scan of the persisted edge
        # frame probing a hash map. Opt-in because it is only safe
        # under the seeded-locality contract (the frontier is bounded
        # by the seed-REACHABLE component; all-seeds-style calls would
        # broadcast a node-sized frame). In small-world graphs the
        # k-hop neighborhood can approach the FULL node set, so fall
        # back to the shuffle join once the sparse rank vector
        # outgrows broadcast_row_cap (`ranks_n` is the previous
        # round's probe — no extra count job).
        if broadcast_frontier and ranks_n <= broadcast_row_cap:
            frontier = F.broadcast(frontier)
        sums = _contrib_sums(ed, frontier)
        # Sparse update: full-outer of the seed teleport terms and
        # the walked-mass sums — both frontier-scale. A node in
        # neither frame keeps exact 0.0 by absence (same IEEE
        # value the dense form computed for it: 0.0 + d*0.0).
        return st.join(sums, st["node"] == sums["dst"], "full").select(
            F.coalesce(st["node"], sums["dst"]).alias("node"),
            (
                F.coalesce(F.col("tp_upd"), F.lit(0.0))
                + F.lit(damping)
                * F.coalesce(F.col("s").cast("double"), F.lit(0.0))
            ).alias("rank"),
        )

    probe = F.count(F.lit(1)) if broadcast_frontier else None
    try:
        for ranks, ranks_n in checkpointed_rounds(ranks, step, n_iter, probe):
            pass
        # Expand the sparse vector over the full node set ONCE: every
        # node the walk never reached holds exact 0.0 (the value the
        # dense loop computed for it each round). Seed ids absent from
        # the graph's node set drop out here, as before. Under the
        # seeded-locality contract the sparse vector is bounded, so
        # the expansion rides the same broadcast the loop uses —
        # keeping the serving plan exchange-free. The same row-cap
        # guard applies: a walk that saturated the graph falls back
        # to the shuffle join here too.
        final_ranks = (
            F.broadcast(ranks)
            if broadcast_frontier and ranks_n <= broadcast_row_cap
            else ranks
        )
        return nodes.join(final_ranks, "node", "left").select(
            "node", F.coalesce("rank", F.lit(0.0)).alias("rank")
        )
    finally:
        ed.unpersist()


def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 8,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """(node, degree) for the k-core of an UNDIRECTED simple graph —
    the maximal subgraph where every node keeps degree >= k — after
    `rounds` synchronous peeling iterations (Matula-Beck peeling, the
    bulk-synchronous form every Pregel-style system uses): each round
    drops every node whose CURRENT degree is < k, then drops edges
    touching dropped nodes; fixed-point reached when a round removes
    nothing. `rounds` bounds the work (a differential twin unrolls the
    same count); the returned `degree` is recomputed on the final edge
    set. k-core is the density/cohesion primitive beside triangle
    counting (local clustering) and pagerank (global centrality) —
    the classic spam/anomaly and community-seed filter.

    `edges` holds one row per undirected edge with a < b (the
    support-pruned co-purchase convention).

    Scale shape: every round is ONE union-groupBy degree count plus one
    semi-join edge filter — all edge-sized, nothing node-quadratic; the
    edge frame is referenced by degree count AND filter, so rounds run
    on `lineage.checkpointed_rounds` with the round's edge count as its
    probe. Peeling only ever SHRINKS the edge set, so per-round cost is
    monotonically non-increasing — the worst case is the first round on
    the full (already support-pruned) graph. A round that removes NO
    edge is the fixed point — peeling stops there, so `rounds` is the
    BOUND and typical cost is the convergence depth (1/4/6 rounds at
    sf0.001/0.01/0.1, measured).
    Identical results to the full unroll: post-fixed-point rounds are
    no-op filters, which is exactly what the differential oracle's
    fixed `rounds` unroll computes."""
    e = edges.select(F.col(a).alias("a"), F.col(b).alias("b"))
    # Deliberate even when the caller already checkpointed its edge
    # frame (one redundant copy of a bounded, support-pruned edge list):
    # the peeling loop's round-0 lineage must be flat REGARDLESS of
    # caller discipline, and detecting "input is already a checkpoint
    # scan" would couple this operator to plan internals.
    e = e.localCheckpoint(eager=True)
    n_edges = e.count()

    def step(e: DataFrame) -> DataFrame:
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("n")
        return (
            e.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .select("a", "b")
        )

    for e, n_pruned in checkpointed_rounds(
        e, step, rounds, F.count(F.lit(1))
    ):
        if n_pruned == n_edges:
            break
        n_edges = n_pruned
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, dist) = minimum hop count from any seed node, for every
    node reachable within `max_hops` over a DIRECTED edge list (pass
    both directions for an undirected graph) — synchronous frontier
    expansion (parallel BFS, the Pregel hello-world): each round
    extends every known distance by one hop and keeps the per-node
    minimum. Exact integer distances, so the result is deterministic
    under any partitioning. Unreached nodes are absent (no sentinel).

    `seeds` is a 1-column DataFrame of starting node ids (dist 0).

    Scale shape: per round one equi-join of the edge list against the
    CURRENT distance frame plus one min-groupBy — both keyed on node
    id; only (node, dist) pairs shuffle, never payloads. The distance
    frame is referenced twice per round (join + union), so rounds run
    on `lineage.checkpointed_rounds`. Rounds = max_hops, a fixed bound
    the oracle twin unrolls identically."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    dist = (
        seeds.toDF("node")
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )

    def step(dist: DataFrame) -> DataFrame:
        hop = e.join(dist, e["src"] == dist["node"]).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.lit(1)).cast("long").alias("dist"),
        )
        return (
            dist.unionAll(hop)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    for dist, _ in checkpointed_rounds(dist, step, max_hops):
        pass
    return dist


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, community) after `rounds` SYNCHRONOUS label-propagation
    iterations (Raghavan et al. 2007, the near-linear community
    detector) with a fully deterministic update: every node starts
    labeled with its own id; each round every node adopts the label
    carried by the MOST of its in-neighbors, ties broken toward the
    SMALLEST label (the tie rule that makes the sync variant
    reproducible — textbook async LPA visits nodes in random order,
    which no differential harness can pin). Pass both directions for
    an undirected graph. Nodes with no in-edges keep their label.

    Distinct from connected_components (pure reachability): LPA splits
    a connected blob into internally-dense groups — the community
    primitive between components (too coarse) and triangles (too
    local).

    Scale shape: per round ONE edge-keyed equi-join + one
    (node, label) count groupBy + one max_by reduction — all shuffles
    carry (node, label, count) triples only. The label frame is
    referenced twice per round (neighbor join + keep-own coalesce), so
    rounds run on `lineage.checkpointed_rounds`. The deterministic
    argmax is a single max_by(struct) partial-agg, never a window
    sort."""
    from pyspark.sql.types import NumericType

    for c in (src, dst):
        if not isinstance(edges.schema[c].dataType, NumericType):
            raise TypeError(
                f"label_propagation requires numeric node ids: column "
                f"{c!r} is {edges.schema[c].dataType.simpleString()}. The "
                "deterministic tie-break orders by the NEGATED label "
                "inside max_by — a non-numeric label would silently cast "
                "to NULL and break the smallest-label tie rule instead "
                "of failing loudly. Map string ids to dense numeric ids "
                "first (e.g. hash or zipWithIndex)."
            )
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.localCheckpoint(eager=True)
    labels = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=True)
    )

    def step(labels: DataFrame) -> DataFrame:
        counts = (
            e.join(labels, e["src"] == labels["node"])
            .groupBy(F.col("dst").alias("n"), "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        # deterministic argmax: max count, ties to the smallest label —
        # one partial-aggregating max_by over an orderable struct (lbl
        # negated so "larger struct" = higher count then lower label).
        best = counts.groupBy("n").agg(
            F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias(
                "m"
            )
        ).select(F.col("n"), (-F.col("m.neg")).alias("new_lbl"))
        return labels.join(best, labels["node"] == best["n"], "left").select(
            "node", F.coalesce(F.col("new_lbl"), F.col("lbl")).alias("lbl")
        )

    try:
        for labels, _ in checkpointed_rounds(labels, step, rounds):
            pass
        return labels.select("node", F.col("lbl").alias("community"))
    finally:
        free_local_checkpoint(e)


def link_prediction_scores(
    und: DataFrame,
    deg_ceil: int,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """Adamic-Adar + Resource-Allocation link-prediction scores for
    every NON-adjacent pair of an undirected simple graph (`und`: one
    row per edge, a < b): (u, v, n_common, adamic_adar, resource_alloc)
    with u < v, both indices summed over the pair's common neighbors w
    — AA weighting each w by 1/ln(deg w) (Adamic & Adar 2003), RA by
    1/deg w (Zhou, Lu & Zhang 2009). Unsorted; callers rank/limit.

    Wedge-center degree ceiling (r13 VERDICT ask #2 — the sparse-cosine
    df-clamp discipline): wedge enumeration fans out C(deg w, 2) pairs
    per center w, and unlike the triangle count degree orientation
    honestly CANNOT apply (both wedge arms are needed), so a single
    pathological hub would otherwise explode the self-join QUADRATICALLY
    in its degree no matter how small the rest of the graph is. The
    operator is therefore DEFINED over wedge centers with
    2 <= deg w <= deg_ceil: a center past the ceiling is excluded from
    BOTH indices (exactly as a term past the df clamp is excluded from
    the cosine), bounding any center's fan-out at C(deg_ceil, 2) and
    total wedge volume at |nodes| * deg_ceil^2 / 2 — a STRUCTURAL bound,
    not an empirical one. The pruned centers carry the least signal by
    the indices' own logic (1/ln d and 1/d are smallest exactly for
    mega-hubs — a shared bestseller is weak evidence); deg >= 2 stays
    for the ln(1) = 0 divergence (see the catalog row).

    Determinism: degrees are exact BIGINTs; each wedge term folds
    through round(·, 12) -> DECIMAL(28,12) so per-pair sums are
    order-independent under any partitioning; final scores round to
    8 dp. The catalog row's DuckDB oracle replays the identical capped
    wedge pass with the same deg_ceil literal."""
    ea, eb = F.col(a), F.col(b)
    nbr = und.select(ea.alias("n"), eb.alias("w")).unionAll(
        und.select(eb.alias("n"), ea.alias("w"))
    )
    deg = nbr.groupBy(F.col("n").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    wn = (
        nbr.join(F.broadcast(deg), nbr["w"] == deg["node"])
        .where((F.col("d") >= 2) & (F.col("d") <= F.lit(deg_ceil)))
        .select(
            "n",
            "w",
            F.expr(
                "CAST(round(1.0 / ln(CAST(d AS DOUBLE)), 12)"
                " AS DECIMAL(28,12))"
            ).alias("aa_w"),
            F.expr(
                "CAST(round(1.0 / CAST(d AS DOUBLE), 12)"
                " AS DECIMAL(28,12))"
            ).alias("ra_w"),
        )
    )
    x, y = wn.alias("x"), wn.alias("y")
    wedge = x.join(y, on="w").where(F.col("x.n") < F.col("y.n")).select(
        F.col("x.n").alias("u"),
        F.col("y.n").alias("v"),
        F.col("x.aa_w").alias("aa_w"),
        F.col("x.ra_w").alias("ra_w"),
    )
    cand = wedge.join(
        F.broadcast(und),
        (wedge["u"] == ea) & (wedge["v"] == eb),
        "left_anti",
    )
    return (
        cand.groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("aa_w").alias("aa"),
            F.sum("ra_w").alias("ra"),
        )
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "n_common",
            F.round(F.col("aa").cast("double"), 8).alias("adamic_adar"),
            F.round(F.col("ra").cast("double"), 8).alias("resource_alloc"),
        )
    )
