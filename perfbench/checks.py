"""Answer checkers, computed apart from the engine.

Expected answers come from ``pyref`` (the package's pure-Python BM25
oracle) over the benchmark's own copy of the extracted corpus. Each
checker returns a list of problems; an empty list means the answer is
correct. Nothing here imports Spark, so the checkers are tested on
their own (``test_checks.py``).
"""

from __future__ import annotations

from xml_to_es_spark import pyref

# Score tolerance, the one the package's own rank-identity tests use:
# the engine's avgdl is a Spark average and pyref's a Python quotient,
# and paths other than WAND sum terms in another order, so scores agree
# to a few ulps, not bit for bit.
SCORE_TOL = 1e-9


def scores_and(ref: pyref.PyRefIndex, query: str) -> dict[int, float]:
    """``match`` with ``operator: and``: docs holding every query term,
    scored like the OR match."""
    terms = set(pyref.tokenize(query))
    if not terms:
        return {}
    keep = None
    for t in terms:
        ids = set(ref.postings.get(t, {}))
        keep = ids if keep is None else keep & ids
    return {d: s for d, s in ref.score(query).items() if d in keep}


def scores_bool(
    ref: pyref.PyRefIndex, must: list[str], should: list[str], must_not: list[str]
) -> dict[int, float]:
    """``bool`` of single-term ``match`` clauses: every must term is
    required, should terms are optional and add their score, any
    must_not term excludes the doc. A clause's score is its term's
    BM25 contribution."""
    per_must = [ref.score(t) for t in must]
    if not per_must:
        raise ValueError("the benchmark's bool bodies always carry a must clause")
    keep = set(per_must[0])
    for c in per_must[1:]:
        keep &= set(c)
    for t in must_not:
        keep -= set(ref.postings.get(t, {}))
    out = {d: 0.0 for d in keep}
    for c in per_must + [ref.score(t) for t in should]:
        for d in keep:
            if d in c:
                out[d] += c[d]
    return out


def check_ranked(
    got: list[tuple[int, float]],
    expected: dict[int, float],
    k: int,
    strict_ranks: bool,
    tol: float = SCORE_TOL,
) -> list[str]:
    """Check a top-k page against the expected score of every matching
    doc.

    The expected page ranks by (score desc, doc_id asc), and every
    returned score must lie within ``tol`` of the doc's expected score.
    ``strict_ranks`` demands the same docs in the same order. Otherwise
    a doc may stand in another's rank only when both have the same
    expected score (a tie, up to ``tol``)."""
    want = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    probs: list[str] = []
    if len(got) != len(want):
        probs.append(f"{len(got)} hits, expected {len(want)}")
    seen: set[int] = set()
    for i, (doc, score) in enumerate(got):
        if doc in seen:
            probs.append(f"rank {i}: doc {doc} repeated")
        seen.add(doc)
        if doc not in expected:
            probs.append(f"rank {i}: doc {doc} does not match the query")
            continue
        exp_score = expected[doc]
        if not abs(score - exp_score) <= tol:
            probs.append(f"rank {i}: doc {doc} score {score!r}, expected {exp_score!r}")
        if i < len(want):
            wdoc, wscore = want[i]
            if doc == wdoc:
                continue
            if strict_ranks or not abs(exp_score - wscore) <= tol:
                probs.append(f"rank {i}: doc {doc}, expected doc {wdoc}")
    return probs


def check_doc_set(got: list[int], expected: set[int]) -> list[str]:
    """A page that must hold exactly ``expected`` (order free)."""
    probs = []
    if len(got) != len(set(got)):
        probs.append("repeated docs")
    missing = expected - set(got)
    extra = set(got) - expected
    if missing:
        probs.append(f"missing docs {sorted(missing)[:5]}")
    if extra:
        probs.append(f"unexpected docs {sorted(extra)[:5]}")
    return probs


def check_counts(got: dict, planted: dict) -> list[str]:
    """Counts an operation reports (``upsert``'s n_new/n_changed,
    ``delete_docs``'s n_deleted) against the counts the generator
    planted."""
    return [
        f"{key} = {got.get(key)!r}, planted {want}"
        for key, want in sorted(planted.items())
        if got.get(key) != want
    ]
