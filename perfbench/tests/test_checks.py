"""The correctness gates catch wrong answers and accept right ones."""

import numpy as np
import pandas as pd
import pytest

import checks
from workloads import tail


def _answer(corpus, qvecs, k):
    ids, scores = corpus.topk(qvecs, k)
    return pd.DataFrame({
        "query_id": np.repeat(np.arange(len(qvecs)), k),
        "doc_id": ids.ravel(),
        "score": np.round(scores.ravel(), 6),
        "rank": np.tile(np.arange(1, k + 1), len(qvecs)),
    })


@pytest.fixture
def data():
    rng = np.random.default_rng(0)
    corpus = checks.Corpus(np.arange(100, 300), rng.normal(size=(200, 8)))
    return corpus, rng.normal(size=(5, 8))


def test_exact_answer_passes(data):
    corpus, q = data
    problems, recall = checks.check_topk(_answer(corpus, q, 10), range(5), q, corpus, 10,
                                         exact=True)
    assert problems == [] and recall == 1.0


def test_swapped_ranks_fail_the_exact_gate(data):
    corpus, q = data
    ans = _answer(corpus, q, 10)
    first = ans.index[(ans["query_id"] == 2) & (ans["rank"] <= 2)]
    ans.loc[first, "doc_id"] = ans.loc[first, "doc_id"].to_numpy()[::-1]
    problems, _ = checks.check_topk(ans, range(5), q, corpus, 10, exact=True)
    assert any("query 2" in p for p in problems)


def test_tombstoned_id_fails_the_gate(data):
    corpus, q = data
    ans = _answer(corpus, q, 10)
    dead = int(ans.loc[0, "doc_id"])
    problems, _ = checks.check_topk(ans, range(5), q, corpus, 10, exact=False,
                                    banned={dead})
    assert any("not live" in p for p in problems)


def test_own_vector_gate_skips_tombstoned_rows():
    rows = pd.DataFrame({"query_id": [0, 0, 1, 1, 2, 2], "doc_id": [7, 3, 4, 8, 5, 9],
                         "rank": [1, 2, 1, 2, 1, 2]})
    expected = {0: 7, 1: 8, 2: 6}
    problems = checks.own_vectors_first(rows, expected, banned={6})
    assert problems == ["id 8 not at rank 1 for its own vector (query 1)"]


def test_reference_report_follows_the_reference_rules():
    rows = pd.DataFrame({"query_id": [0, 0, 0, 1, 1, 1],
                         "doc_id": [5, 6, 7, 8, 9, 10],
                         "rank": [1, 2, 3, 1, 2, 3]})
    qrels = {0: {6, 99}}  # query 1 has no judgments
    rep = checks.reference_report(rows, qrels, k_recall=(1, 3), k_precision=(1, 3))
    assert rep[("recall", 1)] == 0.0 and rep[("recall", 3)] == 0.5  # query 1 skipped
    assert rep[("precision", 3)] == pytest.approx((1 / 3 + 0) / 2)
    assert rep[("mrr", None)] == pytest.approx((1 / 2 + 0) / 2)


def test_report_gate_compares_to_six_decimals():
    ref = {("recall", 1): 0.1234564, ("mrr", None): 0.5}
    good = pd.DataFrame({"metric": ["recall", "mrr"], "k": [1, None],
                         "value": [0.123456, 0.5]})
    assert checks.check_report(good, ref) == []
    bad = good.assign(value=[0.123459, 0.5])
    assert checks.check_report(bad, ref)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert tail([5.0, 1.0, 3.0]) == (5.0, 100.0)
    xs = list(range(1, 21))  # 20 samples: the 10th value has 10 above it
    assert tail(xs) == (10, 50.0)
