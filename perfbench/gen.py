"""Seeded input generator for the vector-search benchmark.

Everything the engine sees is written here as parquet; the engine reads
it through ``io.load_table``. The same ``(workload, seed)`` always gives
byte-identical files, and the arrays are returned alongside so the
benchmark's own NumPy ground truth never goes through the engine.

Vectors are clustered: ``N_CLUSTERS`` centres, each corpus row a
centre plus Gaussian spread. A query is a corpus row plus noise, so its
source row is usually, but not always, its nearest neighbour; that keeps
exact MRR and recall@1 strictly between 0 and 1.

Files (every table is one parquet file, ``<name>.parquet``):

- ``embeddings``: ``vec_id BIGINT, embedding ARRAY<FLOAT>, label INT``
  (the corpus; ``load_table`` re-splits this table to the session's
  parallelism like any single-file corpus)
- ``queries``: ``query_id BIGINT, embedding ARRAY<FLOAT>, batch INT``
- ``qrels``: ``query_id BIGINT, doc_id BIGINT, relevance INT``; the
  source row is graded 2, a few same-cluster rows are graded 1, and a
  share of queries has no judgments at all (the recall skip rule)
- ``upserts`` (``hnsw-ingest`` only): ``vec_id, embedding, label,
  batch`` rows added one batch per cycle
- ``deletes`` (``hnsw-ingest`` only): ``id BIGINT, batch INT`` ids
  tombstoned one batch per cycle; cycle c searches query batches 2c
  (tombstone probes) and 2c + 1 (its own upserted vectors)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


N_CLUSTERS = 64
SPREAD = 0.35  # per-coordinate corpus spread around a centre
# per-coordinate query noise around its source row: enough that the
# source is not always the nearest row (exact MRR is about 0.72)
NOISE = 0.8
UNJUDGED_SHARE = 0.05  # queries without judgments (the recall skip rule)
N_RELATED = 3  # grade-1 judgments per judged query


@dataclass(frozen=True)
class Spec:
    """Input sizes of one workload."""

    n_corpus: int
    dim: int
    batch_size: int  # queries per request
    n_batches: int  # distinct query batches; requests cycle through them
    upsert_size: int = 0
    n_cycles: int = 0
    delete_size: int = 0


@dataclass
class Inputs:
    """Arrays behind the written files, for the benchmark's own checks."""

    root: str
    ids: np.ndarray
    vecs: np.ndarray
    query_ids: np.ndarray
    query_vecs: np.ndarray
    query_batch: np.ndarray
    query_source: np.ndarray | None = None
    qrels: dict[int, set[int]] = field(default_factory=dict)
    upsert_ids: np.ndarray | None = None
    upsert_vecs: np.ndarray | None = None
    upsert_batch: np.ndarray | None = None
    delete_ids: np.ndarray | None = None
    delete_batch: np.ndarray | None = None

    def batch_queries(self, b: int) -> tuple[np.ndarray, np.ndarray]:
        sel = self.query_batch == b
        return self.query_ids[sel], self.query_vecs[sel]


def _vector_table(ids, vecs, **extra) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)),
        flat,
    )
    cols = {"vec_id": pa.array(ids, type=pa.int64()), "embedding": emb}
    for k, v in extra.items():
        cols[k] = pa.array(v, type=pa.int32())
    return pa.table(cols)


def _write(root: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(root, f"{name}.parquet"))


def _clustered(rng, n, dim, centres, spread):
    labels = rng.integers(0, len(centres), size=n)
    vecs = centres[labels] + rng.normal(0.0, spread, size=(n, dim))
    return vecs.astype(np.float32), labels.astype(np.int32)


def generate(root: str, spec: Spec, seed: int) -> Inputs:
    """Write the workload's tables under ``root`` and return the arrays."""
    if spec.n_cycles and (spec.upsert_size < spec.batch_size
                          or spec.n_batches != 2 * spec.n_cycles):
        raise ValueError("cycles need upsert_size >= batch_size and two batches each")
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    dim = spec.dim
    centres = rng.normal(0.0, 1.0, size=(N_CLUSTERS, dim))
    # unit directions scaled to 1.5x a row's expected spread norm, so
    # clusters are distinct but a noisy query can still cross to another
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    centres *= np.sqrt(dim) * SPREAD * 1.5

    n_up = spec.upsert_size * spec.n_cycles
    vecs, labels = _clustered(rng, spec.n_corpus + n_up, dim, centres, SPREAD)
    # ids are a seeded permutation of a sparse range, so id order says
    # nothing about cluster or insertion order
    all_ids = rng.choice(10 * (spec.n_corpus + n_up), size=spec.n_corpus + n_up,
                         replace=False).astype(np.int64)
    ids, up_ids = all_ids[: spec.n_corpus], all_ids[spec.n_corpus:]
    base_vecs, up_vecs = vecs[: spec.n_corpus], vecs[spec.n_corpus:]
    base_labels, up_labels = labels[: spec.n_corpus], labels[spec.n_corpus:]
    _write(root, "embeddings", _vector_table(ids, base_vecs, label=base_labels))

    inputs = Inputs(root=root, ids=ids, vecs=base_vecs, query_ids=None,
                    query_vecs=None, query_batch=None)

    delete_ids = delete_batch = None
    if n_up:
        up_batch = np.repeat(np.arange(spec.n_cycles, dtype=np.int32), spec.upsert_size)
        _write(root, "upserts",
               _vector_table(up_ids, up_vecs, label=up_labels, batch=up_batch))
        inputs.upsert_ids, inputs.upsert_vecs = up_ids, up_vecs
        inputs.upsert_batch = up_batch
        # cycle c tombstones ids live after its upsert: base rows and
        # rows upserted in cycles <= c, never one already deleted
        live = list(ids)
        dels, dbatch = [], []
        for c in range(spec.n_cycles):
            live.extend(up_ids[up_batch == c])
            pick = np.sort(rng.choice(len(live), size=spec.delete_size, replace=False))
            for i in pick[::-1]:
                dels.append(live.pop(int(i)))
            dbatch.extend([c] * spec.delete_size)
        delete_ids = np.array(dels, dtype=np.int64)
        delete_batch = np.array(dbatch, dtype=np.int32)
        _write(root, "deletes", pa.table({
            "id": pa.array(delete_ids, type=pa.int64()),
            "batch": pa.array(delete_batch, type=pa.int32()),
        }))
        inputs.delete_ids, inputs.delete_batch = delete_ids, delete_batch

    # query sources. With cycles, batch 2c probes tombstones: half its
    # queries perturb rows cycle c tombstones, so a leaked tombstone would
    # rank near the top, and half perturb base rows; batch 2c + 1 holds
    # the unperturbed vectors of the rows cycle c upserts, each of which
    # must come back at rank 1. Without cycles every query perturbs a
    # base row.
    n_q = spec.batch_size * spec.n_batches
    src_ids = np.empty(n_q, dtype=np.int64)
    noisy = np.ones(n_q, dtype=bool)
    for b in range(spec.n_batches):
        lo, hi = b * spec.batch_size, (b + 1) * spec.batch_size
        cycle, kind = divmod(b, 2)
        if n_up and kind == 1:
            src_ids[lo:hi] = up_ids[up_batch == cycle][: spec.batch_size]
            noisy[lo:hi] = False
            continue
        dead = delete_ids[delete_batch == cycle][: spec.batch_size // 2] if n_up else []
        src_ids[lo:lo + len(dead)] = dead
        src_ids[lo + len(dead):hi] = rng.choice(ids, size=hi - lo - len(dead), replace=False)
    pool_ids = np.concatenate([ids, up_ids])
    pool_vecs = np.concatenate([base_vecs, up_vecs])
    pos = {int(v): i for i, v in enumerate(pool_ids)}
    src_vecs = pool_vecs[[pos[int(i)] for i in src_ids]].astype(np.float64)
    noise = rng.normal(0.0, NOISE, size=src_vecs.shape)
    qvecs = (src_vecs + noisy[:, None] * noise).astype(np.float32)
    qids = np.arange(n_q, dtype=np.int64)
    qbatch = np.repeat(np.arange(spec.n_batches, dtype=np.int32), spec.batch_size)
    qt = _vector_table(qids, qvecs, batch=qbatch).rename_columns(
        ["query_id", "embedding", "batch"])
    _write(root, "queries", qt)
    inputs.query_ids, inputs.query_vecs, inputs.query_batch = qids, qvecs, qbatch
    inputs.query_source = src_ids

    # qrels: source row graded 2 plus same-cluster rows graded 1
    label_of = np.concatenate([base_labels, up_labels])
    by_label = {lab: ids[base_labels == lab] for lab in range(N_CLUSTERS)}
    judged = rng.random(n_q) >= UNJUDGED_SHARE
    q_col, d_col, r_col = [], [], []
    for qi in range(n_q):
        if not judged[qi]:
            continue
        src = int(src_ids[qi])
        rel = {src: 2}
        same = by_label[int(label_of[pos[src]])]
        if len(same):
            for d in rng.choice(same, size=min(N_RELATED, len(same)), replace=False):
                rel.setdefault(int(d), 1)
        for d, g in sorted(rel.items()):
            q_col.append(qi)
            d_col.append(d)
            r_col.append(g)
        inputs.qrels[qi] = set(rel)
    _write(root, "qrels", pa.table({
        "query_id": pa.array(q_col, type=pa.int64()),
        "doc_id": pa.array(d_col, type=pa.int64()),
        "relevance": pa.array(r_col, type=pa.int32()),
    }))
    return inputs
