"""The checkers reject corrupted answers.

    python3 -m pytest perfbench/test_checks.py -q

Pure Python: each test builds a small pyref corpus, takes the correct
answer, corrupts it one way and asserts the checker reports it.
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import checks  # noqa: E402
from xml_to_es_spark import pyref  # noqa: E402

K = 5


@pytest.fixture(scope="module")
def ref():
    texts = {
        i: " ".join(
            ["alpha"] * (1 + i % 3)
            + (["beta"] if i % 2 == 0 else [])
            + (["gamma"] if i % 3 == 0 else [])
            + (["delta"] if i % 5 == 0 else [])
            + [f"w{i}"] * (i % 4)
        )
        for i in range(30)
    }
    return pyref.PyRefIndex(texts)


def _page(expected: dict, k: int = K) -> list[tuple[int, float]]:
    return sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@pytest.fixture(params=["or", "and", "bool"])
def case(request, ref):
    """(expected scores, strict_ranks) for each body type."""
    if request.param == "or":
        return ref.score("beta delta"), True
    if request.param == "and":
        return checks.scores_and(ref, "alpha beta"), False
    return checks.scores_bool(ref, ["alpha"], ["delta"], ["gamma"]), False


def test_correct_answer_passes(case):
    exp, strict = case
    assert len(exp) > K
    assert checks.check_ranked(_page(exp), exp, K, strict) == []


def test_swapped_rank_rejected(case):
    exp, strict = case
    page = _page(exp)
    # swap the first two ranks whose scores differ
    i = next(i for i in range(len(page) - 1) if page[i][1] != page[i + 1][1])
    page[i], page[i + 1] = page[i + 1], page[i]
    assert checks.check_ranked(page, exp, K, strict)


def test_dropped_doc_rejected(case):
    exp, strict = case
    page = _page(exp)
    del page[2]
    assert checks.check_ranked(page, exp, K, strict)


def test_extra_doc_rejected(case, ref):
    exp, strict = case
    page = _page(exp)
    outsider = next(d for d in ref.doc_len if d not in exp)
    page[-1] = (outsider, page[-1][1])
    assert checks.check_ranked(page, exp, K, strict)
    # one doc too many, even a matching one
    assert checks.check_ranked(_page(exp, K + 1), exp, K, strict)


def test_score_outside_tolerance_rejected(case):
    exp, strict = case
    page = _page(exp)
    doc, score = page[0]
    page[0] = (doc, score + 10 * checks.SCORE_TOL)
    assert checks.check_ranked(page, exp, K, strict)
    # a few ulps are within tolerance
    page[0] = (doc, score * (1 + 4e-16))
    assert checks.check_ranked(page, exp, K, strict) == []


def test_tied_docs_may_swap_only_without_strict_ranks():
    exp = {1: 2.0, 2: 2.0, 3: 1.0}
    page = [(2, 2.0), (1, 2.0), (3, 1.0)]
    assert checks.check_ranked(page, exp, 3, strict_ranks=False) == []
    assert checks.check_ranked(page, exp, 3, strict_ranks=True)


def test_bool_semantics(ref):
    got = checks.scores_bool(ref, ["alpha", "beta"], ["delta"], ["gamma"])
    assert set(got) == {i for i in range(30) if i % 2 == 0 and i % 3 != 0}
    ab = ref.score("alpha beta")
    d = ref.score("delta")
    for doc, s in got.items():
        assert s == pytest.approx(ab[doc] + d.get(doc, 0.0), abs=1e-12)


def test_doc_set_rejects_missing_extra_and_repeated():
    assert checks.check_doc_set([1, 2, 3], {1, 2, 3}) == []
    assert checks.check_doc_set([1, 2], {1, 2, 3})
    assert checks.check_doc_set([1, 2, 3, 4], {1, 2, 3})
    assert checks.check_doc_set([1, 2, 2, 3], {1, 2, 3})


def test_wrong_upsert_count_rejected():
    planted = {"n_new": 40, "n_changed": 40}
    assert checks.check_counts({"mode": "delta", "n_new": 40, "n_changed": 40}, planted) == []
    assert checks.check_counts({"n_new": 40, "n_changed": 39}, planted)
    assert checks.check_counts({"n_new": 41, "n_changed": 40}, planted)
    assert checks.check_counts({"mode": "noop"}, planted)


@pytest.mark.parametrize("seed", [0, 7, 600_000, 2**40 + 3, -5])
def test_inputs_from_any_seed(seed):
    import workload

    assert workload.search_rounds(seed, 2) == workload.search_rounds(seed, 2)
    assert len(workload.msearch_batches(seed, 1)[0]) == workload.MSEARCH_BATCH
    assert 0 <= workload._seed32(seed, 4, 7919) < 2**32
