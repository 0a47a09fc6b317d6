"""The input generator is deterministic per seed and its inputs are non-trivial."""

import filecmp
import os

import numpy as np
import pandas as pd

import checks
import gen

SPEC = gen.Spec(n_corpus=3000, dim=16, batch_size=50, n_batches=4)
INGEST = gen.Spec(n_corpus=400, dim=16, batch_size=8, n_batches=6, upsert_size=8,
                  n_cycles=3, delete_size=6)


def _files(root):
    return sorted(os.listdir(root))


def test_same_seed_gives_byte_identical_parquet(tmp_path):
    for spec in (SPEC, INGEST):
        a = tmp_path / f"a{spec.n_corpus}"
        b = tmp_path / f"b{spec.n_corpus}"
        gen.generate(str(a), spec, seed=7)
        gen.generate(str(b), spec, seed=7)
        assert _files(a) == _files(b)
        for name in _files(a):
            assert filecmp.cmp(a / name, b / name, shallow=False), name


def test_different_seed_gives_different_parquet(tmp_path):
    gen.generate(str(tmp_path / "a"), SPEC, seed=7)
    gen.generate(str(tmp_path / "b"), SPEC, seed=8)
    for name in _files(tmp_path / "a"):
        assert not filecmp.cmp(tmp_path / "a" / name, tmp_path / "b" / name, shallow=False)


def test_exact_mrr_and_recall_at_1_strictly_between_0_and_1(tmp_path):
    inp = gen.generate(str(tmp_path), SPEC, seed=3)
    corpus = checks.Corpus(inp.ids, inp.vecs)
    ids, scores = corpus.topk(inp.query_vecs, 10)
    rows = pd.DataFrame({
        "query_id": np.repeat(inp.query_ids, 10),
        "doc_id": ids.ravel(),
        "score": scores.ravel(),
        "rank": np.tile(np.arange(1, 11), len(inp.query_ids)),
    })
    rep = checks.reference_report(rows, inp.qrels, k_recall=(1, 10), k_precision=(1,))
    assert 0.0 < rep[("mrr", None)] < 1.0
    assert 0.0 < rep[("recall", 1)] < 1.0
    # some queries carry no judgments, exercising the recall skip rule
    assert 0 < len(inp.qrels) < len(inp.query_ids)


def test_ingest_plan_tombstones_only_live_ids(tmp_path):
    inp = gen.generate(str(tmp_path), INGEST, seed=5)
    live = set(inp.ids.tolist())
    for c in range(INGEST.n_cycles):
        live |= set(inp.upsert_ids[inp.upsert_batch == c].tolist())
        dead = set(inp.delete_ids[inp.delete_batch == c].tolist())
        assert len(dead) == INGEST.delete_size and dead <= live
        live -= dead
    assert not set(inp.upsert_ids.tolist()) & set(inp.ids.tolist())


def test_ingest_queries_probe_tombstones_and_own_vectors(tmp_path):
    inp = gen.generate(str(tmp_path), INGEST, seed=5)
    for c in range(INGEST.n_cycles):
        probe = inp.query_source[inp.query_batch == 2 * c]
        dead = set(inp.delete_ids[inp.delete_batch == c].tolist())
        assert len(set(probe.tolist()) & dead) == INGEST.batch_size // 2
        own = inp.query_source[inp.query_batch == 2 * c + 1]
        assert own.tolist() == inp.upsert_ids[inp.upsert_batch == c].tolist()
        own_vecs = inp.query_vecs[inp.query_batch == 2 * c + 1]
        assert np.array_equal(own_vecs, inp.upsert_vecs[inp.upsert_batch == c])
