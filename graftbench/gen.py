"""Seeded inputs and planted truth for the benchmark workloads.

Every generator takes the workload seed and returns plain Arrow tables
plus the truth the output checks score against. The engine only ever
sees the generated inputs, never the seed. One seed always regenerates
identical inputs and truth (see ``fingerprint``); random streams are
split per purpose so resizing one input does not reshuffle another.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# --- snapshot: the FIXTURES.md section A1 `files` table -------------------

# Source column order; the source names the key `id` (renamed to file_id).
FILES_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("client_name", pa.string()),
        ("client_zone", pa.string()),
        ("cluster", pa.string()),
        ("duration", pa.int32()),
        ("ext", pa.string()),
        ("fid", pa.string()),
        ("name", pa.string()),
        ("mime", pa.string()),
        ("size", pa.int32()),
        ("type", pa.string()),
        ("height", pa.int32()),
        ("width", pa.int32()),
        ("modified", pa.timestamp("us", tz="UTC")),
    ]
)
TARGET_COLUMNS = ["file_id"] + FILES_SCHEMA.names[1:]
EMPTY_STRING_COLS = ["client_name", "client_zone", "fid", "name"]
TS_DEFAULT = "1970-01-01 00:00:00"
TARGET_DDL = """
CREATE TABLE files (
  file_id TEXT PRIMARY KEY, client_name TEXT NOT NULL,
  client_zone TEXT NOT NULL, cluster TEXT, duration INTEGER, ext TEXT,
  fid TEXT NOT NULL, name TEXT NOT NULL, mime TEXT, size INTEGER,
  type TEXT, height INTEGER, width INTEGER, modified TEXT NOT NULL
)
"""

NULL_FRAC = 0.03  # per nullable or sanitized column
DUP_FRAC = 0.01  # extra rows that repeat an existing key
CHANGE_FRAC = 0.03  # next generation: rows whose payload changed
NEW_FRAC = 0.01  # next generation: keys absent from the base

_ZONES = ["vn-hn", "vn-hcm", "sg-1", "us-e1", "eu-w1"]
_EXTS = ["jpg", "png", "webp", "mp4", "mov", "pdf", "txt", "zip"]
_MIMES = ["image/jpeg", "image/png", "video/mp4", "application/pdf"]
_TYPES = ["image", "video", "document", "archive"]
_CLIENTS = [f"client-{k:05d}" for k in range(5000)]
_CLUSTERS = [f"cl-{k:02d}" for k in range(16)]
_T0 = 1577836800  # 2020-01-01T00:00:00Z
_T_SPAN = 5 * 365 * 86400
_INT32_MAX = 2**31 - 1


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _payload(rng: np.random.Generator, ids: list[str]) -> dict[str, list]:
    """Non-key columns for `ids`, with NULLs in every column but the key.
    `modified` is epoch seconds here; _files_table makes it a timestamp."""
    n = len(ids)

    def nulls(values: list) -> list:
        mask = (rng.random(n) < NULL_FRAC).tolist()
        return [None if m else v for v, m in zip(values, mask)]

    def pick(pool: list[str]) -> list[str]:
        return [pool[i] for i in rng.integers(0, len(pool), n).tolist()]

    ext = pick(_EXTS)
    fids = rng.bytes(16 * n).hex()
    return {
        "client_name": nulls(pick(_CLIENTS)),
        "client_zone": nulls(pick(_ZONES)),
        "cluster": nulls(pick(_CLUSTERS)),
        "duration": nulls(rng.integers(0, 7200, n).tolist()),
        "ext": nulls(ext),
        "fid": nulls([fids[32 * i : 32 * i + 32] for i in range(n)]),
        "name": nulls([f"{i[:12]}.{e}" for i, e in zip(ids, ext)]),
        "mime": nulls(pick(_MIMES)),
        "size": nulls(rng.integers(0, _INT32_MAX, n).tolist()),
        "type": nulls(pick(_TYPES)),
        "height": nulls(rng.integers(1, 4320, n).tolist()),
        "width": nulls(rng.integers(1, 7680, n).tolist()),
        "modified": nulls((_T0 + rng.integers(0, _T_SPAN, n)).tolist()),
    }


def _ids(seed: int, tag: str, n: int) -> list[str]:
    """md5-hex keys, as the reference's `files.id`. Their Murmur3 tokens
    spread over the whole signed 64-bit ring."""
    return [hashlib.md5(f"{seed}:{tag}:{i}".encode()).hexdigest() for i in range(n)]


def _concat(parts: list[dict[str, list]]) -> dict[str, list]:
    return {c: [v for p in parts for v in p[c]] for c in parts[0]}


def _duplicates(rng: np.random.Generator, rows: dict[str, list]) -> dict[str, list]:
    """A second row for DUP_FRAC of the keys: a fresh payload whose
    `modified` is strictly later than the original's, so the original
    survives the job's `ORDER BY modified` dedup (a NULL original
    sanitizes to 1970 and sorts first as well)."""
    n = len(rows["id"])
    idx = sorted(rng.choice(n, size=max(1, int(n * DUP_FRAC)), replace=False).tolist())
    ids = [rows["id"][i] for i in idx]
    dup = {"id": ids, **_payload(rng, ids)}
    later = rng.integers(1, 86400, len(idx)).tolist()
    dup["modified"] = [
        max(rows["modified"][i] or _T0, _T0) + d for i, d in zip(idx, later)
    ]
    return dup


def _files_table(rows: dict[str, list], order: np.ndarray) -> pa.Table:
    arrays = []
    for f in FILES_SCHEMA:
        vals = rows[f.name]
        if f.name == "modified":
            vals = [None if s is None else s * 1_000_000 for s in vals]
        arrays.append(pa.array(vals, type=f.type))
    return pa.Table.from_arrays(arrays, schema=FILES_SCHEMA).take(pa.array(order))


def _expected(rows: dict[str, list]) -> tuple[dict[str, tuple], int]:
    """The sanitized survivors as sqlite returns them (file_id -> row
    tuple of str / int / None), and their payload size in bytes (strings
    as UTF-8, 4 bytes per INT)."""
    secs = np.array([0 if s is None else s for s in rows["modified"]])
    stamps = np.char.replace(secs.astype("datetime64[s]").astype(str), "T", " ")
    cols = []
    for c in FILES_SCHEMA.names[:-1]:
        vals = rows[c]
        if c in EMPTY_STRING_COLS:
            vals = ["" if v is None else v for v in vals]
        cols.append(vals)
    cols.append(
        [TS_DEFAULT if s is None else t for s, t in zip(rows["modified"], stamps.tolist())]
    )
    payload = 0
    for f, vals in zip(FILES_SCHEMA, cols):
        if pa.types.is_integer(f.type):
            payload += 4 * (len(vals) - vals.count(None))
        else:
            payload += sum(len(v.encode()) for v in vals if v is not None)
    return dict(zip(cols[0], zip(*cols))), payload


@dataclass
class FilesInput:
    """One `files` generation: the source table and the rows the job must
    leave in the target."""

    table: pa.Table
    expected: dict[str, tuple]  # file_id -> target row of the survivor
    payload_bytes: int  # user bytes in the expected rows


def files_generations(
    seed: int, n_keys: int, with_next: bool = True
) -> tuple[FilesInput, FilesInput | None]:
    """(base, next) generations of the `files` table.

    base: n_keys distinct md5 keys plus DUP_FRAC duplicate-key rows.
    next: every base key again, CHANGE_FRAC of them with a new payload,
    NEW_FRAC new keys, and its own DUP_FRAC duplicates. An upsert of
    `next` over a target holding `base` must leave exactly next's
    survivors. Row order is shuffled so duplicates are not adjacent.
    """
    base_ids = _ids(seed, "base", n_keys)
    base = {"id": base_ids, **_payload(_rng(seed, 1), base_ids)}
    gens = [(base, _duplicates(_rng(seed, 2), base))]
    if with_next:
        rng = _rng(seed, 3)
        changed = np.flatnonzero(rng.random(n_keys) < CHANGE_FRAC).tolist()
        fresh = _payload(rng, [base_ids[i] for i in changed])
        nxt = {c: list(v) for c, v in base.items()}
        for c, vals in fresh.items():
            for i, v in zip(changed, vals):
                nxt[c][i] = v
        new_ids = _ids(seed, "new", max(1, int(n_keys * NEW_FRAC)))
        nxt = _concat([nxt, {"id": new_ids, **_payload(_rng(seed, 4), new_ids)}])
        gens.append((nxt, _duplicates(_rng(seed, 5), nxt)))

    out: list[FilesInput | None] = [None, None]
    for g, (rows, dups) in enumerate(gens):
        src = _concat([rows, dups])
        order = _rng(seed, 6 + g).permutation(len(src["id"]))
        expected, payload = _expected(rows)
        out[g] = FilesInput(_files_table(src, order), expected, payload)
    return out[0], out[1]


# --- text corpora ---------------------------------------------------------


VOCAB = 20000  # words of both text corpora


class _Zipf:
    """Token draws from a Zipf(1) vocabulary of VOCAB words `w<rank>`."""

    def __init__(self, rng: np.random.Generator):
        p = 1.0 / np.arange(1, VOCAB + 1)
        self.rng, self.p = rng, p / p.sum()
        self.words = [f"w{r}" for r in range(VOCAB)]

    def docs(self, lengths: list[int]) -> list[list[str]]:
        ranks = self.rng.choice(len(self.p), size=sum(lengths), p=self.p).tolist()
        out, at = [], 0
        for n in lengths:
            out.append([self.words[r] for r in ranks[at : at + n]])
            at += n
        return out


@dataclass
class CurationInput:
    """A corpus with planted near-duplicate clusters."""

    table: pa.Table  # doc_id long, text string, quality double
    clusters: list[list[int]]  # planted clusters (doc ids), size >= 2
    keep: set[int]  # expected canonical of every planted cluster

    @property
    def planted_dups(self) -> set[int]:
        return {d for c in self.clusters for d in c} - self.keep

    def cluster_of(self) -> dict[int, int]:
        """doc_id -> planted cluster number, for clustered docs only."""
        return {d: i for i, c in enumerate(self.clusters) for d in c}


CLUSTER_SHARE = 0.2  # share of curation documents in planted clusters
EDITS = 3  # tokens replaced per near-duplicate


def curation_corpus(seed: int, n_docs: int) -> CurationInput:
    """Zipf-vocabulary documents of 60-140 tokens, about CLUSTER_SHARE
    of them in planted clusters of 2-4 near-duplicates. Each member is its
    parent with EDITS tokens replaced (3-shingle Jaccard about 0.85 at
    100 tokens). A third of the clusters are chains, each member edited
    from the previous one, so A~B~C holds while A and C are further
    apart. The canonical of a cluster is its highest-quality member, ties
    to the lowest doc_id (canonical_keep's default order)."""
    rng = _rng(seed, 10)
    zipf = _Zipf(rng)
    sizes: list[int] = []
    while sum(sizes) < n_docs * CLUSTER_SHARE:
        sizes.append(int(rng.integers(2, 5)))
    chains = (rng.random(len(sizes)) < 1 / 3).tolist()
    n_single = max(0, n_docs - sum(sizes))
    roots = zipf.docs(rng.integers(60, 141, len(sizes) + n_single).tolist())
    edit_words = zipf.docs([EDITS * (sum(sizes) - len(sizes))])[0]
    texts: list[list[str]] = []
    groups: list[list[int]] = []
    for size, chain, root in zip(sizes, chains, roots):
        members = [root]
        for _ in range(size - 1):
            child = list(members[-1] if chain else root)
            for pos in rng.choice(len(child), size=EDITS, replace=False).tolist():
                child[pos] = edit_words.pop()
            members.append(child)
        groups.append(list(range(len(texts), len(texts) + size)))
        texts.extend(members)
    texts.extend(roots[len(sizes) :])
    ids = rng.permutation(len(texts)).tolist()
    quality = rng.random(len(texts)).round(6).tolist()
    clusters = [[ids[i] for i in g] for g in groups]
    qual_by_id = dict(zip(ids, quality))
    keep = {min(c, key=lambda d: (-qual_by_id[d], d)) for c in clusters}
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([" ".join(t) for t in texts], pa.string()),
            "quality": pa.array(quality, pa.float64()),
        }
    )
    return CurationInput(table, clusters, keep)


# --- retrieval ------------------------------------------------------------


@dataclass
class RetrievalInput:
    docs: pa.Table  # doc_id long, text string
    doc_appends: list[tuple[int, str]]  # unindexed docs for append requests
    bm25_queries: list[list[str]]
    vectors: pa.Table  # vec_id long, label string, embedding array<float>
    vec_appends: list[tuple[int, str, list[float]]]  # for append requests
    ann_queries: list[int]  # vec_ids of corpus vectors used as queries
    ann_truth: dict[int, list[int]]  # exact top-k neighbours (numpy)
    cell_centroids: list[list[float]]  # IVF cells: the mixture's centres
    pq_centers: list[list[list[float]]]  # residual PQ codebook [m][j][sub]


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _residual_pq(vecs: np.ndarray, cells: np.ndarray, m: int, n_centers: int) -> list:
    """Per-subspace k-means (10 Lloyd rounds, first-n init) over the
    residuals to each vector's cosine-nearest cell, the encoding
    build_ivfpq_index applies with residual=True."""
    nearest = np.argmax(_unit(vecs) @ _unit(cells).T, axis=1)
    res = vecs - cells[nearest]
    sub = vecs.shape[1] // m
    out = []
    for mi in range(m):
        x = res[:, mi * sub : (mi + 1) * sub]
        cent = x[:n_centers].copy()
        for _ in range(10):
            assign = np.argmin(((x[:, None, :] - cent[None]) ** 2).sum(-1), axis=1)
            for j in range(n_centers):
                if np.any(assign == j):
                    cent[j] = x[assign == j].mean(axis=0)
        out.append(cent.tolist())
    return out


DIM = 16  # embedding width
N_COMPONENTS = 8  # Gaussian mixture components, also the IVF cells
SIGMA = 0.15  # per-coordinate spread around a component centre
PQ_M, PQ_CENTERS = 4, 16  # PQ subspaces and centroids per subspace


def retrieval_inputs(
    seed: int, n_docs: int, n_vectors: int, n_queries: int, n_appends: int, k: int
) -> RetrievalInput:
    """Documents, keyword queries, clustered embeddings and query vectors;
    `n_appends` documents and vectors for append requests, and the exact
    top-`k` neighbours of every query vector.

    Documents have 20-60 Zipf tokens; BM25 queries take 2-3 distinct
    terms of frequency rank 30-3000. Vectors are a mixture of Gaussians
    (float32), so true neighbours share the query's component. The IVF
    cells are the mixture's centres and the PQ codebook is trained here
    on the residuals, so index builds encode and lay out data without a
    training loop. Append vectors come from other components and are
    rejected if any would come within 1e-3 cosine of a query's exact
    top-k, so appends never change an ANN reference answer."""
    rng = _rng(seed, 20)
    texts = [
        " ".join(t)
        for t in _Zipf(rng).docs(
            rng.integers(20, 61, n_docs + n_appends).tolist()
        )
    ]
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts[:n_docs], pa.string()),
        }
    )
    doc_appends = [(n_docs + j, texts[n_docs + j]) for j in range(n_appends)]
    bm25_queries = []
    for _ in range(n_queries):
        ranks = rng.choice(np.arange(30, 3000), size=int(rng.integers(2, 4)), replace=False)
        bm25_queries.append([f"w{r}" for r in ranks.tolist()])

    rng = _rng(seed, 21)
    centers = rng.uniform(-1.0, 1.0, (N_COMPONENTS, DIM))
    comp = rng.integers(0, N_COMPONENTS, n_vectors)
    vecs = (centers[comp] + rng.normal(0.0, SIGMA, (n_vectors, DIM))).astype(
        np.float32
    )
    vectors = pa.table(
        {
            "vec_id": pa.array(range(n_vectors), pa.int64()),
            "label": pa.array([f"c{c}" for c in comp.tolist()], pa.string()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        }
    )
    ann_queries = sorted(rng.choice(n_vectors, size=n_queries, replace=False).tolist())
    unit = _unit(vecs.astype(np.float64))
    sims = unit[ann_queries] @ unit.T
    sims[np.arange(n_queries), ann_queries] = -np.inf
    order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    ann_truth = {q: order[i].tolist() for i, q in enumerate(ann_queries)}
    kth = sims[np.arange(n_queries), order[:, -1]]

    vec_appends: list[tuple[int, str, list[float]]] = []
    far = rng.uniform(-1.0, 1.0, (N_COMPONENTS, DIM))
    while len(vec_appends) < n_appends:
        cand = (
            far[rng.integers(0, N_COMPONENTS, n_appends)]
            + rng.normal(0.0, SIGMA, (n_appends, DIM))
        ).astype(np.float32)
        cs = unit[ann_queries] @ _unit(cand.astype(np.float64)).T
        ok = np.all(cs < kth[:, None] - 1e-3, axis=0)
        for v in cand[ok].tolist()[: n_appends - len(vec_appends)]:
            vec_appends.append((n_vectors + len(vec_appends), "append", v))
    return RetrievalInput(
        docs,
        doc_appends,
        bm25_queries,
        vectors,
        vec_appends,
        ann_queries,
        ann_truth,
        centers.tolist(),
        _residual_pq(vecs.astype(np.float64), centers, PQ_M, PQ_CENTERS),
    )


def fingerprint(*parts) -> str:
    """sha256 over inputs and truth: Arrow tables by content, sets and
    dicts in sorted order, everything else by repr."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pa.Table):
            p = p.to_pydict()
        elif isinstance(p, set):
            p = sorted(p)
        elif isinstance(p, dict):
            p = sorted(p.items())
        h.update(repr(p).encode())
    return h.hexdigest()
