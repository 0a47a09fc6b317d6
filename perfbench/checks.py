"""NumPy ground truth and the correctness gates applied to engine output.

Each gate returns a list of problems; an empty list means the output
passed. Nothing here calls the engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# Scores are compared after the engine rounds them to 6 decimals.
SCORE_TOL = 1.5e-6
# Two docs whose exact cosines differ by less than this are a tie: the
# engine's float64 sums may order them either way.
TIE_TOL = 1e-9


def unit_rows(mat: np.ndarray) -> np.ndarray:
    m = np.asarray(mat, dtype=np.float64)
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return m / n


class Corpus:
    """The live corpus as the benchmark knows it: ids plus unit vectors."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.unit = unit_rows(vecs)
        self.pos = {int(i): j for j, i in enumerate(self.ids)}

    def add(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        base = len(self.ids)
        self.ids = np.concatenate([self.ids, np.asarray(ids, dtype=np.int64)])
        self.unit = np.vstack([self.unit, unit_rows(vecs)])
        for j, i in enumerate(ids):
            self.pos[int(i)] = base + j

    def remove(self, ids) -> None:
        drop = {int(i) for i in ids}
        keep = np.array([int(i) not in drop for i in self.ids], dtype=bool)
        self.ids, self.unit = self.ids[keep], self.unit[keep]
        self.pos = {int(i): j for j, i in enumerate(self.ids)}

    def topk(self, qvecs: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
        """Exact top-k under (score DESC, id ASC): (ids, scores), (Q, k)."""
        sims = unit_rows(qvecs) @ self.unit.T
        k = min(k, sims.shape[1])
        part = np.argpartition(-sims, k - 1, axis=1)[:, :k]
        out_ids = np.empty((len(sims), k), dtype=np.int64)
        out_sc = np.empty((len(sims), k), dtype=np.float64)
        for i in range(len(sims)):
            # widen the candidate set to every doc tied with the k-th
            kth = sims[i, part[i]].min()
            cand = np.nonzero(sims[i] >= kth)[0]
            order = np.lexsort((self.ids[cand], -sims[i, cand]))[:k]
            out_ids[i] = self.ids[cand[order]]
            out_sc[i] = sims[i, cand[order]]
        return out_ids, out_sc

    def scores(self, qvec: np.ndarray, doc_ids) -> np.ndarray:
        q = unit_rows(qvec[None, :])[0]
        return self.unit[[self.pos[int(d)] for d in doc_ids]] @ q


def ranked(result: pd.DataFrame) -> dict[int, pd.DataFrame]:
    """Engine rows grouped per query, in rank order."""
    return {int(q): g.sort_values("rank") for q, g in result.groupby("query_id")}


def check_topk(result: pd.DataFrame, qids, qvecs, corpus: Corpus, k: int,
               exact: bool, banned: set[int] = frozenset()) -> tuple[list[str], float]:
    """Gate one top-k answer. Every query must get min(k, live) distinct
    live ids ranked 1..n with scores equal to their exact cosine and
    non-increasing. With ``exact``, the ids must equal the NumPy
    brute-force order (ties within TIE_TOL may swap). Returns the
    problems and the batch's recall@10 against exact search."""
    problems: list[str] = []
    want = min(k, len(corpus.ids))
    gt_ids, gt_sc = corpus.topk(qvecs, k)
    per_q = ranked(result)
    recalls = []
    for i, q in enumerate(qids):
        g = per_q.get(int(q))
        if g is None:
            problems.append(f"query {q}: no results")
            recalls.append(0.0)
            continue
        docs = g["doc_id"].to_numpy(dtype=np.int64)
        if list(g["rank"]) != list(range(1, len(g) + 1)) or len(g) != want:
            problems.append(f"query {q}: {len(g)} rows ranked "
                            f"{list(g['rank'])[:5]}..., want ranks 1..{want}")
        if len(set(docs.tolist())) != len(docs):
            problems.append(f"query {q}: duplicate ids")
        bad = [int(d) for d in docs if int(d) in banned or int(d) not in corpus.pos]
        if bad:
            problems.append(f"query {q}: ids not live {bad[:5]}")
            recalls.append(0.0)
            continue
        exact_sc = corpus.scores(qvecs[i], docs)
        if np.any(np.abs(exact_sc - g["score"].to_numpy()) > SCORE_TOL):
            problems.append(f"query {q}: scores differ from exact cosine")
        if np.any(np.diff(exact_sc) > TIE_TOL):
            problems.append(f"query {q}: scores not in rank order")
        if exact and (len(docs) != want or np.any(
                (docs != gt_ids[i]) & (np.abs(exact_sc - gt_sc[i]) > TIE_TOL))):
            problems.append(f"query {q}: ids differ from exact top-{k}")
        top = min(10, want)
        recalls.append(len(set(docs[:top].tolist()) & set(gt_ids[i, :top].tolist())) / top)
    return problems, float(np.mean(recalls)) if recalls else 0.0


def own_vectors_first(result: pd.DataFrame, expected: dict[int, int],
                      banned: set[int]) -> list[str]:
    """Each query whose row is still live must return that row at rank 1;
    ``expected`` maps query id to the id of the row whose vector it is."""
    first = result[result["rank"] == 1]
    top1 = dict(zip(first["query_id"].astype(int), first["doc_id"].astype(int)))
    return [f"id {want} not at rank 1 for its own vector (query {q})"
            for q, want in sorted(expected.items())
            if want not in banned and top1.get(q) != want]


def reference_report(result: pd.DataFrame, qrels: dict[int, set[int]],
                     k_recall=(1, 5, 10, 20, 50, 100), k_precision=(1, 5, 10)) -> dict:
    """Recall@K, Precision@K and MRR of a ranked result by the reference
    rules: relevance is membership in the qrels; recall skips queries
    without judgments; precision divides by what was retrieved up to K;
    MRR is zero-filled; precision and MRR average over searched queries."""
    per_q = ranked(result)
    out = {}
    for kk in k_recall:
        vals = [len(set(g["doc_id"].head(kk)) & qrels[q]) / len(qrels[q])
                for q, g in per_q.items() if qrels.get(q)]
        out[("recall", kk)] = float(np.mean(vals)) if vals else 0.0
    for kk in k_precision:
        vals = []
        for q, g in per_q.items():
            top = list(g["doc_id"].head(kk))
            vals.append(len(set(top) & qrels.get(q, set())) / len(top) if top else 0.0)
        out[("precision", kk)] = float(np.mean(vals)) if vals else 0.0
    rr = []
    for q, g in per_q.items():
        hits = [r for d, r in zip(g["doc_id"], g["rank"]) if int(d) in qrels.get(q, set())]
        rr.append(1.0 / min(hits) if hits else 0.0)
    out[("mrr", None)] = float(np.mean(rr)) if rr else 0.0
    return out


def check_report(report: pd.DataFrame, reference: dict) -> list[str]:
    """The engine's evaluation report must equal the reference to 6 decimals."""
    problems = []
    got = {}
    for m, k, v in report[["metric", "k", "value"]].itertuples(index=False):
        got[(m, None if pd.isna(k) else int(k))] = float(v)
    if set(got) != set(reference):
        problems.append(f"report rows {sorted(got, key=str)} != {sorted(reference, key=str)}")
    for key, want in reference.items():
        if key in got and abs(got[key] - round(want, 6)) > 1.01e-6:
            problems.append(f"{key}: engine {got[key]} != reference {want:.6f}")
    return problems
