"""A seeded near-duplicate corpus, its brute-force references, and the
curation pass over it.

The corpus holds documents of random words plus planted clusters: each
cluster is a base document and copies of it that differ by one
substituted word (near duplicates) or by extra spaces only (exact
duplicates). Every document carries an embedding; a cluster's members
lie close to the cluster's direction, other documents point anywhere.
The references are computed here with plain Python and numpy, never
through the engine:

- ``keep``: the ids ``exact_dedup`` keeps (least id per normalized text);
- ``lsh``: every pair with word-3-gram Jaccard >= ``JACCARD``, by an
  exhaustive comparison of all pairs that share a shingle;
- ``components``: node -> least id of its component over ``lsh``;
- ``emb``: every pair in the same block with cosine >= ``COSINE``;
- ``knn``: each query's exact top-k within its probed IVF cells.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hudi_glue_spark.operators.dedup import (
    connected_components,
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_band_rows,
    minhash_lsh_pairs,
)
from hudi_glue_spark.operators.similarity import (
    ivf_assign_expr,
    ivf_probes_expr,
    knn_ivf,
)

VOCAB = 4_000
WORDS = 100
UNIQUE_DOCS = 240
CLUSTERS = 40
DIM = 16
CELLS = 8
QUERIES = 24
K = 5
NPROBE = 2
SHINGLE_N = 3
#: 16 bands of 4 rows: a pair at Jaccard 0.88 (two members of one
#: cluster, each one word off the base) shares no band with
#: probability (1 - 0.88**4)**16 < 1e-6, so LSH finds every planted pair
NUM_HASHES = 64
BANDS = 16
JACCARD = 0.5
COSINE = 0.95
QUERY_ID0 = 1_000_000


@dataclass
class Corpus:
    docs: str  # parquet: id, text, vec, blk
    queries: str  # parquet: id, vec
    centroids: list[list[float]]
    keep: set[int]
    lsh: dict[tuple[int, int], float]
    components: dict[int, int]
    emb: set[tuple[int, int]]
    knn: dict[int, list[int]]


def _shingles(text: str) -> frozenset[str]:
    ws = text.split()
    return frozenset(
        " ".join(ws[i:i + SHINGLE_N]) for i in range(len(ws) - SHINGLE_N + 1)
    )


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def _cells(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(N, CELLS) cell ids by cosine desc, then cell id desc."""
    sims = _unit(x) @ _unit(cents).T
    ids = np.arange(cents.shape[0])[None, :].repeat(len(x), 0)
    return np.lexsort((-ids, -sims), axis=1)


def _lsh_reference(texts: dict[int, str]) -> dict[tuple[int, int], float]:
    sh = {i: _shingles(t) for i, t in texts.items()}
    post = defaultdict(list)
    for i, s in sh.items():
        for g in s:
            post[g].append(i)
    pairs = {
        (a, b) for ids in post.values() for a in ids for b in ids if a < b
    }
    out = {}
    for a, b in pairs:
        inter = len(sh[a] & sh[b])
        j = inter / (len(sh[a]) + len(sh[b]) - inter)
        if j >= JACCARD:
            out[(a, b)] = j
    return out


def _components(pairs) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def stage(seed: int, out_dir: str) -> Corpus:
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    words = [f"w{i}" for i in range(VOCAB)]
    texts, vecs = [], []
    for _ in range(UNIQUE_DOCS):
        texts.append(" ".join(rng.choice(words, WORDS)))
        vecs.append(rng.normal(size=DIM))
    centers = _unit(rng.normal(size=(CLUSTERS, DIM)))
    for c in range(CLUSTERS):
        base = list(rng.choice(words, WORDS))
        texts.append(" ".join(base))
        vecs.append(centers[c] + rng.normal(0, 0.02, DIM))
        for _ in range(int(rng.integers(1, 4))):
            ws = list(base)
            if rng.random() < 0.3:  # exact duplicate: spacing only
                at = int(rng.integers(1, WORDS))
                ws[at] = " " + ws[at]
                text = " ".join(ws) + " "
            else:
                ws[int(rng.integers(0, WORDS))] = str(rng.choice(words))
                text = " ".join(ws)
            texts.append(text)
            vecs.append(centers[c] + rng.normal(0, 0.02, DIM))
    ids = rng.permutation(len(texts)).astype(np.int64)
    x = np.array(vecs)
    cents = _unit(rng.normal(size=(CELLS, DIM)))
    blk = _cells(x, cents)[:, 0]
    pq.write_table(
        pa.table({
            "id": pa.array(ids),
            "text": pa.array(texts),
            "vec": pa.array(x.tolist(), pa.list_(pa.float64())),
            "blk": pa.array(blk.astype(np.int32)),
        }),
        os.path.join(out_dir, "docs.parquet"),
    )
    qx = np.concatenate([
        centers[rng.choice(CLUSTERS, QUERIES // 2, replace=False)]
        + rng.normal(0, 0.05, (QUERIES // 2, DIM)),
        rng.normal(size=(QUERIES - QUERIES // 2, DIM)),
    ])
    q_ids = QUERY_ID0 + np.arange(QUERIES, dtype=np.int64)
    pq.write_table(
        pa.table({
            "id": pa.array(q_ids),
            "vec": pa.array(qx.tolist(), pa.list_(pa.float64())),
        }),
        os.path.join(out_dir, "queries.parquet"),
    )

    by_id = dict(zip(ids.tolist(), texts))
    groups = defaultdict(list)
    for i, t in by_id.items():
        groups[" ".join(t.lower().split())].append(i)
    keep = {min(g) for g in groups.values()}
    lsh = _lsh_reference(by_id)
    xn = _unit(x)
    cos = xn @ xn.T
    emb = {
        (int(min(ids[a], ids[b])), int(max(ids[a], ids[b])))
        for a, b in zip(*np.nonzero(cos >= COSINE))
        if a != b and blk[a] == blk[b]
    }
    probes = _cells(qx, cents)[:, :NPROBE]
    qcos = _unit(qx) @ xn.T
    knn = {}
    for qi, qid in enumerate(q_ids.tolist()):
        cand = np.flatnonzero(np.isin(blk, probes[qi]))
        order = np.lexsort((ids[cand], -qcos[qi, cand]))
        knn[qid] = ids[cand[order[:K]]].tolist()
    return Corpus(
        os.path.join(out_dir, "docs.parquet"),
        os.path.join(out_dir, "queries.parquet"),
        cents.tolist(), keep, lsh, _components(lsh), emb, knn,
    )


def run_pass(spark, rec, corpus: Corpus, record: bool) -> None:
    """One curation pass: exact dedup, MinHash LSH pairs, connected
    components, embedding near-duplicate pairs and an IVF kNN batch,
    each collected and then checked against the references."""
    docs = spark.read.parquet(corpus.docs)
    queries = spark.read.parquet(corpus.queries)
    with rec.op("curation", record):
        t0 = time.perf_counter()
        with rec.span("operators.dedup"):
            kept = exact_dedup(docs, "id").select("id").collect()
            t1 = time.perf_counter()
            lsh = minhash_lsh_pairs(
                docs, "id", num_hashes=NUM_HASHES, bands=BANDS,
                shingle_n=SHINGLE_N, threshold=JACCARD,
            ).collect()
            t2 = time.perf_counter()
            edges = spark.createDataFrame(
                [(r["a_id"], r["b_id"]) for r in lsh], "a_id BIGINT, b_id BIGINT"
            )
            comps = connected_components(edges).collect()
            t3 = time.perf_counter()
            emb = embedding_near_dup_pairs(docs, "id", "vec", "blk", COSINE).collect()
            t4 = time.perf_counter()
        with rec.span("operators.similarity"):
            knn = knn_ivf(
                queries, docs, "id", "vec", k=K, nprobe=NPROBE,
                centroids=corpus.centroids, assigner="expr",
            ).collect()
            t5 = time.perf_counter()
    steps = {
        "operators.dedup.exact_s": t1 - t0,
        "operators.dedup.minhash_s": t2 - t1,
        "operators.dedup.components_s": t3 - t2,
        "operators.dedup.embedding_pairs_s": t4 - t3,
        "operators.similarity.knn_s": t5 - t4,
    }
    rec.check({r["id"] for r in kept} == corpus.keep, "exact_dedup survivors")
    got = {(r["a_id"], r["b_id"]): r["jaccard"] for r in lsh}
    rec.check(
        len(got) == len(lsh) and got.keys() == corpus.lsh.keys()
        and all(abs(got[p] - j) < 1e-12 for p, j in corpus.lsh.items()),
        f"minhash_lsh_pairs: {len(got)} pairs, reference {len(corpus.lsh)}",
    )
    rec.check({r["node"]: r["comp"] for r in comps} == corpus.components,
              "connected_components vs planted clusters")
    rec.check({(r["a_id"], r["b_id"]) for r in emb} == corpus.emb
              and len(emb) == len(corpus.emb), "embedding_near_dup_pairs")
    ranked = defaultdict(dict)
    for r in knn:
        ranked[r["query_id"]][r["rnk"]] = r["neighbor_id"]
    rec.check(
        {q: [rk[i] for i in sorted(rk)] for q, rk in ranked.items()} == corpus.knn,
        "knn_ivf top-k",
    )
    if record:
        for name, s in steps.items():
            rec.count(name, s)
        _candidate_counters(spark, rec, docs, queries, corpus, len(lsh))


def _candidate_counters(spark, rec, docs, queries, corpus, verified: int):
    """LSH candidate pairs (documents sharing a band) and IVF candidates
    per query, from the operators' public building blocks."""
    bands = minhash_band_rows(
        docs, "id", num_hashes=NUM_HASHES, bands=BANDS, shingle_n=SHINGLE_N
    )
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(r, ["band", "bh"])
        .where(F.col("l.id") < F.col("r.id"))
        .select("l.id", "r.id")
        .distinct()
        .count()
    )
    rec.count("operators.dedup.candidate_pairs", cand)
    rec.count("operators.dedup.verified_ratio", verified / max(1, cand))
    probes = ivf_probes_expr(queries, "vec", corpus.centroids, NPROBE)
    cells = ivf_assign_expr(docs.select("id", "vec"), "vec", corpus.centroids)
    n = probes.select("__cid").join(cells.select("__cid"), "__cid").count()
    rec.count("operators.similarity.candidates_per_query", n / QUERIES)
