"""The benchmark workloads: set-up, one measured operation, its output
check, and (traced runs only) the extra layer probes and per-layer
metrics. Every engine call goes through the engine's public functions.

A workload's life in one run:

  generate()         seeded inputs and truth, written under the work dir
                     once per run, before the JVM starts
  build(spark, tr)   engine-side state: indexes, a pre-loaded target;
                     every set-up repeats it from the generated inputs
  ops()              endless (kind, arg) schedule of measured operations
  before(kind, arg)  untimed per-operation preparation
  run(...)           the timed operation
  check(...)         untimed output check -> Outcome
  probe(...)         traced runs only: layer calls outside the timed op
  layer_values(...)  traced runs only: per-layer metric samples
"""

from __future__ import annotations

import copy
import functools
import glob
import itertools
import math
import os
import shutil
import sqlite3
import types
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from migrate_cassandra_to_mysql_spark import jobs
from migrate_cassandra_to_mysql_spark.functions.localframe import local_frame
from migrate_cassandra_to_mysql_spark.functions.sanitize import sanitize_columns
from migrate_cassandra_to_mysql_spark.jobs import SnapshotJobConfig, run_snapshot
from migrate_cassandra_to_mysql_spark.operators import (
    components,
    dedup,
    inverted_index,
    ivf_index,
    similarity,
)
from migrate_cassandra_to_mysql_spark.operators.snapshot import snapshot_pipeline
from migrate_cassandra_to_mysql_spark.sinks import control
from migrate_cassandra_to_mysql_spark.sinks.idempotent import (
    SQLITE,
    sqlite_connection_factory,
)
from migrate_cassandra_to_mysql_spark.sources import parquet as sources

from graftbench import gen


class SetupError(RuntimeError):
    """Set-up produced state that fails its own check."""


@dataclass
class Outcome:
    ok: bool
    items: int = 0  # work done: rows, documents or requests
    recall: float | None = None  # share of the true answer returned
    precision: float | None = None  # share of the returned answer that is true
    info: dict = field(default_factory=dict)


def _write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = math.ceil(table.num_rows / n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _mean(values) -> float:
    values = [v for v in values if v is not None]
    return sum(values) / len(values) if values else 0.0


class Workload:
    unit = "items"
    cycle = 1  # operations per schedule cycle; runs end on a cycle boundary
    warm_up: list[tuple[str, object]] = []  # checked operations after build()

    def __init__(self, work: str, seed: int, nproc: int):
        self.work, self.seed, self.nproc = work, seed, nproc

    def instrumented(self, tr):
        return nullcontext()

    def before(self, kind, arg) -> None:
        pass

    def after(self, spark) -> None:
        pass

    def probe(self, spark, tr, kind, arg, result) -> dict:
        return {}

    def answer_recall(self, records) -> float:
        """Mean recall of the measured operations' answers."""
        return _mean(r.outcome.recall for r in records)

    def answer_precision(self, records) -> float:
        """Mean precision of the measured operations' answers."""
        return _mean(r.outcome.precision for r in records)


# --- snapshot ---------------------------------------------------------------


def _fresh_target(path: str) -> None:
    for suffix in ("", "-wal", "-shm"):
        if os.path.exists(path + suffix):
            os.remove(path + suffix)
    con = sqlite3.connect(path)
    con.execute("PRAGMA journal_mode=WAL")
    con.execute(gen.TARGET_DDL)
    con.commit()
    con.close()


def _db_bytes(path: str) -> int:
    return sum(
        os.path.getsize(path + s) for s in ("", "-wal") if os.path.exists(path + s)
    )


def _wal_counts(con) -> tuple[int, int, int]:
    """(STARTED rows, COMMITTED rows, rows in COMMITTED batches)."""
    try:
        row = con.execute(
            "SELECT coalesce(sum(status = 'STARTED'), 0),"
            " coalesce(sum(status = 'COMMITTED'), 0),"
            " coalesce(sum(CASE WHEN status = 'COMMITTED' THEN n_rows END), 0)"
            " FROM snapshot_wal"
        ).fetchone()
    except sqlite3.OperationalError:  # no WAL table before the first job
        return 0, 0, 0
    return row


class Snapshot(Workload):
    """`jobs.run_snapshot` over a seeded `files` table into sqlite.

    Full load: a fresh, empty target with INSERT IGNORE. Resync: an
    upsert of the next generation over a target that set-up loaded from
    the base generation; nearly every row meets a key conflict."""

    unit = "rows"
    N_KEYS = 50_000
    warm_up = [("snapshot", None)]

    def __init__(self, *args, resync: bool):
        super().__init__(*args)
        self.resync = resync
        self.src = f"{self.work}/snapshot/src"
        self.target = f"{self.work}/snapshot/target.db"
        self.template = f"{self.work}/snapshot/base.db"
        self.factory = functools.partial(sqlite_connection_factory, self.target)
        self.pipeline_args = dict(
            key_col="file_id",
            renames={"id": "file_id"},
            empty_string_cols=gen.EMPTY_STRING_COLS,
            ts_default_cols={"modified": gen.TS_DEFAULT},
            dedup_order_cols=["modified"],
        )

    def _cfg(self, upsert: bool) -> SnapshotJobConfig:
        args = dict(self.pipeline_args)
        return SnapshotJobConfig(
            table="files",
            key_col=args.pop("key_col"),
            **args,
            batch_size=5000,
            dialect=SQLITE,
            upsert_keys=["file_id"] if upsert else None,
            wal=True,
        )

    def generate(self) -> None:
        base, nxt = gen.files_generations(self.seed, self.N_KEYS, with_next=self.resync)
        self.base = base
        self.input = nxt if self.resync else base
        _write_parquet(self.input.table, f"{self.src}/files.parquet", 2 * self.nproc)
        if self.resync:
            _write_parquet(base.table, f"{self.work}/snapshot/base/files.parquet", 2 * self.nproc)

    def build(self, spark, tr) -> None:
        self.before_rows: dict[str, tuple] = {}
        if not self.resync:
            return
        _fresh_target(self.template)
        run_snapshot(
            sources.table(spark, f"{self.work}/snapshot/base", "files"),
            functools.partial(sqlite_connection_factory, self.template),
            self._cfg(upsert=False),
        )
        con = sqlite3.connect(self.template)
        rows = self._rows(con)
        con.execute("PRAGMA wal_checkpoint(TRUNCATE)")
        con.close()
        if rows != self.base.expected:
            raise SetupError("base load differs from the base generation")
        self.before_rows = rows

    def ops(self):
        return itertools.repeat(("snapshot", None))

    def before(self, kind, arg) -> None:
        if self.resync:
            _fresh_target(self.target)
            shutil.copyfile(self.template, self.target)
        else:
            _fresh_target(self.target)
        con = sqlite3.connect(self.target)
        self.wal_before = _wal_counts(con)
        con.close()
        self.bytes_before = _db_bytes(self.target)

    def run(self, spark, tr, kind, arg):
        src = sources.table(spark, self.src, "files")
        with tr.span("jobs.run_snapshot"):
            return run_snapshot(src, self.factory, self._cfg(upsert=self.resync))

    @staticmethod
    def _rows(con) -> dict[str, tuple]:
        cols = ", ".join(gen.TARGET_COLUMNS)
        return {r[0]: r for r in con.execute(f"SELECT {cols} FROM files")}  # noqa: S608

    def check(self, kind, arg, summary) -> Outcome:
        con = sqlite3.connect(self.target)
        rows = self._rows(con)
        verdict = con.execute(
            "SELECT status FROM snapshot_validation ORDER BY rowid DESC LIMIT 1"
        ).fetchone()
        started, committed, sent = (
            a - b for a, b in zip(_wal_counts(con), self.wal_before)
        )
        con.close()
        expected = self.input.expected
        found = sum(1 for k, r in rows.items() if expected.get(k) == r)
        ok = (
            len(rows) == len(expected) == found
            and summary["status"] == "OK"
            and verdict == ("OK",)
            and started == committed > 0
        )
        return Outcome(
            ok,
            items=self.input.table.num_rows,
            recall=found / len(expected),
            precision=found / max(1, len(rows)),
            info={
                "rows_sent": sent,
                "batches": committed,
                "retries": started - committed,
                "rows_applied": sum(
                    1 for k, r in rows.items() if self.before_rows.get(k) != r
                ),
                "db_growth": _db_bytes(self.target) - self.bytes_before,
                "kept": summary["source_count"],
            },
        )

    @contextmanager
    def instrumented(self, tr):
        """Spans around the layer calls run_snapshot makes, by wrapping
        the names in the `jobs` module namespace for the traced run."""
        saved = jobs.snapshot_pipeline, jobs.write_idempotent, jobs.control
        jobs.snapshot_pipeline = tr.wrap("operators.snapshot", snapshot_pipeline)
        jobs.write_idempotent = tr.wrap("sinks.idempotent.write", saved[1])
        jobs.control = types.SimpleNamespace(
            bootstrap=tr.wrap("sinks.control.bootstrap", control.bootstrap),
            record_validation=tr.wrap(
                "sinks.control.record_validation", control.record_validation
            ),
        )
        try:
            yield
        finally:
            jobs.snapshot_pipeline, jobs.write_idempotent, jobs.control = saved

    def probe(self, spark, tr, kind, arg, result) -> dict:
        """Each layer of the job on its own, into Spark's `noop` sink."""
        out = {}
        with tr.span("sources.scan") as out["scan"]:
            _noop(sources.table(spark, self.src, "files"))
        with tr.span("functions.sanitize") as out["sanitize"]:
            df = sources.table(spark, self.src, "files").withColumnRenamed("id", "file_id")
            _noop(sanitize_columns(df, gen.EMPTY_STRING_COLS, {"modified": gen.TS_DEFAULT}))
        with tr.span("operators.snapshot.pipeline") as out["pipeline"]:
            _noop(snapshot_pipeline(sources.table(spark, self.src, "files"), **self.pipeline_args))
        return out

    def layer_values(self, rollup, rec) -> dict[str, float]:
        job = rollup.descendants(rec.span, "jobs.run_snapshot")[0]
        write = rollup.descendants(job, "sinks.idempotent.write")[0]
        ctrl = rollup.descendants(job, "sinks.control.bootstrap") + rollup.descendants(
            job, "sinks.control.record_validation"
        )
        scan, san, pipe = (rec.probes[k] for k in ("scan", "sanitize", "pipeline"))
        scan_m, pipe_m = rollup.metrics(scan), rollup.metrics(pipe)
        info, n_src = rec.outcome.info, self.input.table.num_rows
        return {
            "jobs.run_snapshot.s": job.seconds,
            "jobs.source_passes": sum(
                1 for j in rollup.jobs(job) if j.m["input_bytes"] > 0
            ),
            "jobs.driver_only.s": rollup.driver_only_s(job),
            "sources.scan.s": scan.seconds,
            "sources.rows_read": scan_m["input_records"],
            "sources.bytes_read": scan_m["input_bytes"],
            "functions.sanitize.s": san.seconds - scan.seconds,
            "operators.snapshot.pipeline.s": pipe.seconds,
            "operators.snapshot.shuffle_bytes": pipe_m["shuffle_write_bytes"],
            "operators.snapshot.shuffle_records": pipe_m["shuffle_write_records"],
            "operators.snapshot.kept_ratio": info["kept"] / n_src,
            "sinks.idempotent.write.s": write.seconds,
            "sinks.idempotent.task_run_ms": rollup.metrics(write)["executor_run_ms"],
            "sinks.idempotent.rows_sent": info["rows_sent"],
            "sinks.idempotent.batches": info["batches"],
            "sinks.idempotent.retries": info["retries"],
            "sinks.idempotent.rows_applied_ratio": info["rows_applied"]
            / max(1, info["rows_sent"]),
            "sinks.idempotent.db_bytes_per_user_byte": info["db_growth"]
            / self.input.payload_bytes,
            "sinks.control.validate.s": sum(s.seconds for s in ctrl),
        }


# --- near-duplicate curation ------------------------------------------------


class Curation(Workload):
    """lsh_candidates -> dedup_clusters -> canonical_keep, keep/drop rows
    written to parquet, scored against the planted clusters."""

    unit = "docs"
    N_DOCS = 4000
    warm_up = [("curate", None)]

    def generate(self) -> None:
        self.input = gen.curation_corpus(self.seed, self.N_DOCS)
        self.cluster_of = self.input.cluster_of()
        self.src = f"{self.work}/curation"
        self.out = f"{self.work}/curation/keep.parquet"
        _write_parquet(self.input.table, f"{self.src}/docs.parquet", self.nproc)

    def build(self, spark, tr) -> None:
        pass

    def ops(self):
        return itertools.repeat(("curate", None))

    def run(self, spark, tr, kind, arg):
        docs = sources.table(spark, self.src, "docs")
        with tr.span("operators.dedup.lsh_candidates"):
            pairs = dedup.lsh_candidates(docs)
        with tr.span("operators.components.dedup_clusters"):
            clusters = components.dedup_clusters(docs, pairs)
        # canonical_keep is lazy: its span includes the parquet write that
        # executes it.
        with tr.span("operators.components.canonical_keep"):
            keep = components.canonical_keep(clusters, docs.select("doc_id", "quality"))
            keep.select("doc_id", "component", "canonical_id", "keep").write.mode(
                "overwrite"
            ).parquet(self.out)
        return self.out

    def after(self, spark) -> None:
        spark.catalog.clearCache()  # lsh_candidates persists its signatures

    def check(self, kind, arg, path) -> Outcome:
        t = pq.read_table(path).to_pydict()
        ids, comp, keep = t["doc_id"], t["component"], t["keep"]
        kept_per_comp = Counter(c for c, k in zip(comp, keep) if k)
        structural = (
            sorted(ids) == sorted(self.input.table.column("doc_id").to_pylist())
            and set(kept_per_comp) == set(comp)
            and set(kept_per_comp.values()) == {1}
        )
        dropped = {d for d, k in zip(ids, keep) if not k}
        planted = self.input.planted_dups
        hit = len(dropped & planted)
        recall = hit / len(planted)
        precision = hit / len(dropped) if dropped else 0.0
        return Outcome(
            structural and recall >= 0.5 and precision >= 0.5,
            items=len(ids),
            recall=recall,
            precision=precision,
        )

    def probe(self, spark, tr, kind, arg, result) -> dict:
        """The candidate pairs on their own: lsh_candidates is lazy, and in
        the measured op its work runs inside dedup_clusters."""
        docs = sources.table(spark, self.src, "docs")
        with tr.span("operators.dedup.lsh_candidates.probe") as span:
            pairs = dedup.lsh_candidates(docs).select("doc_a", "doc_b").collect()
        spark.catalog.clearCache()
        cl = self.cluster_of
        true = sum(1 for a, b in pairs if a in cl and cl[a] == cl.get(b))
        return {"lsh": span, "pairs": len(pairs), "true": true}

    def layer_values(self, rollup, rec) -> dict[str, float]:
        lsh = rec.probes["lsh"]
        cc = rollup.descendants(rec.span, "operators.components.dedup_clusters")[0]
        keep = rollup.descendants(rec.span, "operators.components.canonical_keep")[0]
        cc_m = rollup.metrics(cc)
        pairs = rec.probes["pairs"]
        return {
            "operators.dedup.lsh_candidates.s": lsh.seconds,
            "operators.dedup.candidate_pairs": pairs,
            "operators.dedup.true_pair_ratio": rec.probes["true"] / max(1, pairs),
            "operators.dedup.shuffle_bytes": rollup.metrics(lsh)["shuffle_write_bytes"],
            "operators.components.dedup_clusters.s": cc.seconds,
            "operators.components.dedup_clusters.jobs": cc_m["jobs"],
            "operators.components.dedup_clusters.shuffle_records": cc_m[
                "shuffle_write_records"
            ],
            "operators.components.canonical_keep.s": keep.seconds,
        }


# --- retrieval serving -------------------------------------------------------


class Bm25Reference:
    """Inline BM25 over the indexed documents, kept in Python: the same
    scoring expression as the engine's shared spec (k1 = 1.2, b = 0.75,
    score rounded to 8 places), over postings of the query terms only."""

    K1, B = 1.2, 0.75

    def __init__(self, terms):
        self.post: dict[str, dict[int, int]] = {t: {} for t in terms}
        self.dl: dict[int, int] = {}
        self.sum_dl = 0

    def add(self, docs) -> None:
        for doc_id, text in docs:
            toks = text.split()
            self.dl[doc_id] = len(toks)
            self.sum_dl += len(toks)
            for t in toks:
                if t in self.post:
                    self.post[t][doc_id] = self.post[t].get(doc_id, 0) + 1

    def score(self, terms, doc_id: int) -> float:
        n, dl = len(self.dl), self.dl[doc_id]
        s = 0.0
        for t in terms:
            tf, df = self.post[t].get(doc_id, 0), max(1, len(self.post[t]))
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            s += (
                idf * tf * (self.K1 + 1.0)
                / (tf + self.K1 * ((1 - self.B) + self.B * ((dl * n) / self.sum_dl)))
            )
        return round(s, 8)

    def topk(self, terms, k: int) -> list[tuple[int, float]]:
        cand = set().union(*(self.post[t] for t in terms))
        scored = sorted(((-self.score(terms, d), d) for d in cand))[:k]
        return [(d, -s) for s, d in scored]


class Retrieval(Workload):
    """Closed-loop requests against a persisted inverted index and IVFPQ
    index: BM25 top-k, ANN top-k with exact re-rank, and small appends."""

    unit = "requests"
    N_DOCS = 2000
    N_VECTORS = 1000
    N_QUERIES = 48
    K_BM25, K_ANN, BATCH = 10, 5, 8
    # Appends never reuse a document or vector. The pool outlasts any run
    # that meets the deadline; an append that finds it empty fails.
    N_APPENDS = 1024
    # The request kinds repeat in this order; the seed picks the queries.
    # Runs end on a cycle boundary, so every run has the same mix.
    CYCLE = ["bm25", "ann", "bm25", "ann", "append_text", "append_vec"]
    # A single-query ANN answer with none of the exact top-k fails its
    # check; recall itself is scored over all queries at warm-up.
    ANN_RECALL_FLOOR = 0.2
    cycle = len(CYCLE)

    def generate(self) -> None:
        d = f"{self.work}/retrieval"
        shutil.rmtree(d, ignore_errors=True)
        self.idx, self.ivf, self.vec_dir = f"{d}/inverted", f"{d}/ivfpq", f"{d}/vectors"
        self.input = inp = gen.retrieval_inputs(
            self.seed, self.N_DOCS, self.N_VECTORS, self.N_QUERIES, self.N_APPENDS, self.K_ANN
        )
        _write_parquet(inp.docs, f"{d}/docs", self.nproc)
        _write_parquet(inp.vectors, self.vec_dir, self.nproc)
        self.docs_path = f"{d}/docs"
        self.bm25_base = Bm25Reference({t for q in inp.bm25_queries for t in q})
        self.bm25_base.add(
            zip(inp.docs.column("doc_id").to_pylist(), inp.docs.column("text").to_pylist())
        )
        emb = np.array(
            inp.vectors.column("embedding").to_pylist() + [v for _, _, v in inp.vec_appends]
        )
        self.vecs = emb.tolist()
        self.unit_vecs = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        # ann_all asks every reference query at once; it scores recall.
        self.warm_up = [("bm25", 0), ("ann_all", None)]

    def build(self, spark, tr) -> None:
        """Fresh indexes and references over the generated corpus; appends
        of an earlier set-up are dropped."""
        inp = self.input
        for path in glob.glob(f"{self.vec_dir}/append-*.parquet"):
            os.remove(path)
        shutil.rmtree(self.idx, ignore_errors=True)
        shutil.rmtree(self.ivf, ignore_errors=True)
        self.bm25 = copy.deepcopy(self.bm25_base)
        self.next_doc = self.next_vec = 0
        with tr.span("operators.inverted_index.build"):
            inverted_index.build_inverted_index(spark.read.parquet(self.docs_path), self.idx)
        with tr.span("operators.ivf_index.build"):
            ivf_index.build_ivfpq_index(
                spark.read.parquet(self.vec_dir),
                self.ivf,
                cell_centroids=inp.cell_centroids,
                centers=inp.pq_centers,
                residual=True,
            )
        with tr.span("operators.similarity.brute_force"):
            rows = similarity.brute_force_topk(
                spark.read.parquet(self.vec_dir),
                F.col("vec_id").isin(inp.ann_queries),
                k=self.K_ANN,
            ).collect()
        ref: dict[int, list] = defaultdict(list)
        for r in sorted(rows, key=lambda r: (r["q_id"], r["rnk"])):
            ref[r["q_id"]].append(r["n_id"])
        # The Spark reference must agree with numpy's exact top-k up to
        # ties at 6-place cosine rounding.
        for q, want in inp.ann_truth.items():
            got = ref.get(q, [])
            if [self._cos(q, n) for n in got] != [self._cos(q, n) for n in want]:
                raise SetupError(f"brute_force_topk disagrees with numpy for query {q}")
        self.ann_ref = dict(ref)

    def _cos(self, q: int, n: int) -> float:
        return round(float(self.unit_vecs[q] @ self.unit_vecs[n]), 6)

    def ops(self):
        rng = np.random.default_rng([self.seed, 30])
        queries = self.input.ann_queries
        for kind in itertools.cycle(self.CYCLE):
            if kind == "ann":
                yield kind, queries[int(rng.integers(len(queries)))]
            elif kind == "bm25":
                yield kind, int(rng.integers(len(self.input.bm25_queries)))
            else:
                yield kind, None

    def run(self, spark, tr, kind, arg):
        if kind == "bm25":
            terms = self.input.bm25_queries[arg]
            with tr.span("operators.inverted_index.search.plan"):
                df = inverted_index.bm25_search(spark, self.idx, terms, k=self.K_BM25)
            with tr.span("operators.inverted_index.search.exec"):
                return df.collect()
        if kind in ("ann", "ann_all"):
            ids = [arg] if kind == "ann" else self.input.ann_queries
            q = local_frame(
                spark, [(i, self.vecs[i]) for i in ids], "q_id long, qv array<double>"
            )
            corpus = spark.read.parquet(self.vec_dir)
            with tr.span("operators.ivf_index.search.plan"):
                df = ivf_index.ivfpq_search_rerank(
                    spark, self.ivf, q, corpus, k=self.K_ANN, n_probe=2, shortlist=30
                )
            with tr.span("operators.ivf_index.search.exec"):
                return df.collect()
        pool, at = (
            (self.input.doc_appends, self.next_doc)
            if kind == "append_text"
            else (self.input.vec_appends, self.next_vec)
        )
        batch = pool[at : at + self.BATCH]
        if len(batch) < self.BATCH:
            raise RuntimeError(f"{kind}: the append pool is exhausted")
        if kind == "append_text":
            with tr.span("operators.inverted_index.append"):
                inverted_index.append_to_inverted_index(
                    local_frame(spark, batch, "doc_id long, text string"), self.idx
                )
            return batch
        with tr.span("operators.ivf_index.append"):
            ivf_index.append_to_ivfpq_index(
                local_frame(spark, batch, "vec_id long, label string, embedding array<float>"),
                self.ivf,
            )
        return batch

    def check(self, kind, arg, result) -> Outcome:
        """Check an answer and, for appends, advance the reference state
        the later answers are checked against."""
        if kind == "bm25":
            terms = self.input.bm25_queries[arg]
            want = self.bm25.topk(terms, self.K_BM25)
            got = [(r["doc_id"], r["bm25"]) for r in result]
            right = sum(
                1
                for g, w in zip(got, want)
                if abs(g[1] - w[1]) <= 1e-6 and abs(g[1] - self.bm25.score(terms, g[0])) <= 1e-6
            )
            ok = len(got) == len(want) == right
            return Outcome(ok, items=1, precision=right / max(1, len(got)))
        if kind == "ann_all":
            hits = sum(1 for r in result if r["n_id"] in self.ann_ref[r["q_id"]])
            self.recall = hits / (self.K_ANN * len(self.input.ann_queries))
            ok = len(result) == self.K_ANN * len(self.input.ann_queries)
            return Outcome(ok and self.recall >= 0.5, items=1, recall=self.recall)
        if kind == "ann":
            rows = sorted(result, key=lambda r: r["rnk"])
            ids = [r["n_id"] for r in rows]
            sims = [r["cos_sim"] for r in rows]
            recall = len(set(ids) & set(self.ann_ref[arg])) / self.K_ANN
            ok = (
                [r["rnk"] for r in rows] == list(range(1, self.K_ANN + 1))
                and arg not in ids
                and sims == sorted(sims, reverse=True)
                and all(abs(s - self._cos(arg, n)) <= 2e-6 for s, n in zip(sims, ids))
                and recall >= self.ANN_RECALL_FLOOR
            )
            return Outcome(ok, items=1, recall=recall)
        if kind == "append_text":
            self.bm25.add(result)
            self.next_doc += len(result)
        else:
            # The re-rank reads full vectors from the corpus store, so the
            # appended vectors join it next to the index append.
            pq.write_table(
                pa.table(
                    {
                        "vec_id": pa.array([r[0] for r in result], pa.int64()),
                        "label": pa.array([r[1] for r in result], pa.string()),
                        "embedding": pa.array([r[2] for r in result], pa.list_(pa.float32())),
                    }
                ),
                f"{self.vec_dir}/append-{self.next_vec:05d}.parquet",
            )
            self.next_vec += len(result)
        return Outcome(True, items=1)

    def answer_recall(self, records) -> float:
        """ANN recall@k over every reference query, from the warm-up
        request that asks them all at once (a few timed single-query
        requests are too few to estimate recall)."""
        return self.recall

    def layer_values(self, rollup, rec) -> dict[str, float]:
        out = {}
        for layer in ("inverted_index", "ivf_index"):
            name = f"operators.{layer}"
            plan = rollup.descendants(rec.span, f"{name}.search.plan")
            exe = rollup.descendants(rec.span, f"{name}.search.exec")
            if plan and exe:
                m_plan, m_exec = rollup.metrics(plan[0]), rollup.metrics(exe[0])
                out[f"{name}.search.plan.s"] = plan[0].seconds
                out[f"{name}.search.exec.s"] = exe[0].seconds
                out[f"{name}.tasks_per_query"] = m_plan["tasks"] + m_exec["tasks"]
                out[f"{name}.bytes_read_per_query"] = (
                    m_plan["input_bytes"] + m_exec["input_bytes"]
                )
            for s in rollup.descendants(rec.span, f"{name}.append"):
                out[f"{name}.append.s"] = s.seconds
        return out

    def setup_values(self, rollup, spans) -> dict[str, float]:
        return {
            f"{s.name}.s": s.seconds
            for s in spans
            if s.name
            in (
                "operators.inverted_index.build",
                "operators.ivf_index.build",
                "operators.similarity.brute_force",
            )
        }


WORKLOADS = {
    "snapshot_full_load": functools.partial(Snapshot, resync=False),
    "snapshot_resync": functools.partial(Snapshot, resync=True),
    "near_dup_curation": Curation,
    "retrieval_serving": Retrieval,
}
