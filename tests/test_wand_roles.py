"""Required, excluded and min-match cursors on the block-max WAND
executor, on both sides of ``QueryEngine.topk_wand``'s coordinator
switch.

ES ``match`` with ``operator: and`` or ``minimum_should_match``
(``topk_distributed`` / ``topk_wand(min_match=...)``) and flat
text-only ``bool`` specs (``bool_topk``) run on the WAND kernel with
must/filter terms required, must_not terms excluded and should terms
optional. Every case runs on each side through the ``wand_sides``
fixture and asserts identical rows with bit-equal scores, and rank
identity with scores within ``SCORE_TOL`` of a pyref brute force.
"""

import pandas as pd
import pytest

from xml_to_es_spark import pyref
from xml_to_es_spark.config import IndexConfig
from xml_to_es_spark.operators.es_query import es_search
from xml_to_es_spark.operators.index_build import IndexBuilder
from xml_to_es_spark.operators.query_engine import QueryEngine

SCORE_TOL = 1e-9
CFG = IndexConfig(n_groups=2, salt_threshold=40, n_salts=3, block_size=16)


def _text(i: int) -> str:
    words = ["alpha"] * (1 + i % 4) + [f"w{i % 23}", f"w{i % 7}"]
    words += ["beta"] * (i % 3) + (["gamma"] if i % 5 == 0 else [])
    return " ".join(words + (["omega"] if i % 11 == 0 else []))


def _corpus(n=150) -> dict[int, str]:
    return {i: _text(i) for i in range(n)}


def _rows(df) -> list[tuple]:
    return sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        for r in df.collect()
    )


def _both(wand_sides, run) -> list[tuple]:
    """``run()`` on each side of the switch; the rows must be equal."""
    got = {side: _rows(run()) for side in wand_sides()}
    assert got["coordinator"] == got["spark"]
    return got["coordinator"]


def _ref_match(ref, text, min_match) -> dict[int, float]:
    """pyref brute force of ``match`` with minimum_should_match: a hit
    holds at least ``need`` of the query's distinct tokens (``"all"``
    = every one), scored like the OR match."""
    toks = set(pyref.tokenize(text))
    if min_match == "all":
        need = len(toks)
    elif isinstance(min_match, str):
        need = int(min_match[:-1]) * len(toks) // 100
    else:
        need = min_match
    return {
        d: s for d, s in ref.score(text).items()
        if sum(d in ref.postings.get(t, {}) for t in toks) >= need
    }


def _ref_bool(ref, spec) -> dict[int, float]:
    """pyref brute force of a flat bool: must and filter tokens are
    required, any must_not token excludes, should tokens are optional
    (at least one without must/filter); a token adds its BM25
    contribution once per scoring role (must, should), summed in term
    order."""
    def toks(role):
        v = spec.get(role, "")
        if isinstance(v, list):
            v = " ".join(c["match"] for c in v)
        return set(pyref.tokenize(v))

    must, should, mnot, filt = (toks(r) for r in ("must", "should", "must_not", "filter"))
    contrib = {t: ref.score(t) for t in must | should | filt | mnot}
    cands = set().union(*(contrib[t] for t in must | should | filt))
    out = {}
    for d in cands:
        if any(d not in contrib[t] for t in must | filt):
            continue
        if any(d in contrib[t] for t in mnot):
            continue
        if not (must or filt) and not any(d in contrib[t] for t in should):
            continue
        s = 0.0
        for t in sorted(must | should):
            for _ in range((t in must) + (t in should)):
                s += contrib[t].get(d, 0.0)
        out[d] = s
    return out


def _assert_pages(got, expected: dict[int, dict[int, float]], k, from_=0):
    """Rank identity and scores within SCORE_TOL of the brute force."""
    want = []
    for qid, scores in sorted(expected.items()):
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        for rank, (d, s) in enumerate(ranked[from_:from_ + k], start=from_ + 1):
            want.append((qid, rank, d, s))
    assert [r[:3] for r in got] == [w[:3] for w in want]
    assert all(abs(g[3] - w[3]) <= SCORE_TOL for g, w in zip(got, want))


AND_QS = [(1, "alpha beta"), (2, "alpha w3 gamma"), (3, "beta zzzabsent"),
          (4, "w5 w6"), (5, "omega gamma beta")]
MSM_QS = [(1, "beta gamma w3 omega"), (2, "alpha zzzabsent w5"),
          (3, "gamma omega w0")]
BOOL_QS = [
    (1, {"must": "alpha", "should": "beta gamma", "must_not": "w3"}),
    (2, {"must": "alpha beta", "should": "beta"}),        # must+should token
    (3, {"filter": "gamma"}),                              # score 0, doc order
    (4, {"should": "gamma w5 w11"}),                       # ≥ 1 should
    (5, {"must": "alpha", "filter": [{"match": "w2"}], "must_not": "beta"}),
    (6, {"must": "zzzabsent", "should": "alpha"}),         # absent required
    (7, {"should": "omega zzzabsent", "must_not": "zzzother w0"}),
    (8, {"filter": "beta", "should": "gamma", "must_not": "omega"}),
]


@pytest.fixture(scope="module")
def plain(spark, tmp_path_factory):
    docs = _corpus()
    idx = str(tmp_path_factory.mktemp("roles") / "idx")
    IndexBuilder(spark, CFG).build(
        spark.createDataFrame(pd.DataFrame(
            {"doc_id": list(docs), "text": list(docs.values())}
        )),
        idx,
    )
    return QueryEngine(spark, idx), pyref.PyRefIndex(docs)


@pytest.fixture(scope="module")
def mutated(spark, tmp_path_factory):
    """Base + one upsert delta (changed and new docs) + deletes."""
    docs = _corpus()
    idx = str(tmp_path_factory.mktemp("roles_m") / "idx")
    b = IndexBuilder(spark, CFG)
    b.build(spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(docs), "text": list(docs.values())}
    )), idx)
    changed = {3: "omega alpha w3 fresh beta", 10: "gamma omega omega",
               40: "beta w7", 55: "alpha beta gamma"}
    new = {500: "alpha omega w11 brand new beta", 501: "gamma gamma w13 alpha"}
    patch = {**changed, **new}
    b.upsert(spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(patch), "text": list(patch.values())}
    )), idx)
    deleted = [1, 5, 500, 77, 12]
    b.delete_docs(deleted, idx)
    live = docs | patch
    for d in deleted:
        live.pop(d)
    return QueryEngine(spark, idx), pyref.PyRefIndex(live)


def test_operator_and(wand_sides, plain):
    eng, ref = plain
    got = _both(wand_sides, lambda: eng.topk_distributed(
        AND_QS, k=6, min_match="all"))
    _assert_pages(got, {q: _ref_match(ref, t, "all") for q, t in AND_QS}, 6)
    assert not [r for r in got if r[0] == 3]  # absent `and` token: no hits


def test_es_match_operator_and_and_msm(wand_sides, plain):
    eng, ref = plain
    q = "alpha w3 gamma"
    for opts, mm in (({"operator": "and"}, "all"),
                     ({"minimum_should_match": 2}, 2),
                     ({"minimum_should_match": "67%"}, "67%")):
        body = {"query": {"match": {"text": {"query": q, **opts}}}, "size": 8}
        got = _both(wand_sides, lambda: es_search(eng, body))
        _assert_pages(got, {0: _ref_match(ref, q, mm)}, 8)
        assert got


@pytest.mark.parametrize("mm", [2, "60%", 4])
def test_minimum_should_match(wand_sides, plain, mm):
    eng, ref = plain
    got = _both(wand_sides, lambda: eng.topk_wand(MSM_QS, k=7, min_match=mm))
    _assert_pages(got, {q: _ref_match(ref, t, mm) for q, t in MSM_QS}, 7)


def test_flat_bool_roles(wand_sides, plain):
    eng, ref = plain
    got = _both(wand_sides, lambda: eng.bool_topk(BOOL_QS, k=9))
    _assert_pages(got, {q: _ref_bool(ref, s) for q, s in BOOL_QS}, 9)
    by_q = {}
    for qid, _rank, d, s in got:
        by_q.setdefault(qid, []).append((d, s))
    # filter-only: score 0, ranked by doc_id
    assert by_q[3] == sorted((d, 0.0) for d in ref.postings["gamma"])[:9]
    assert 6 not in by_q  # a must token absent from the corpus
    assert by_q[2] and by_q[4] and by_q[7]


def test_es_bool_body_runs_on_wand(wand_sides, plain):
    """An ES bool body of single-field match clauses (the benchmark's
    shape) reaches the WAND executor through the DSL."""
    eng, ref = plain
    clause = lambda t: {"match": {"text": t}}  # noqa: E731
    body = {"query": {"bool": {
        "must": [clause("alpha")], "should": [clause("gamma")],
        "must_not": [clause("w3")], "filter": [clause("beta")],
    }}, "size": 6}
    got = _both(wand_sides, lambda: es_search(eng, body))
    spec = {"must": "alpha", "should": "gamma", "must_not": "w3",
            "filter": "beta"}
    _assert_pages(got, {0: _ref_bool(ref, spec)}, 6)
    assert got


def test_from_is_a_slice(wand_sides, plain):
    eng, ref = plain
    got = _both(wand_sides, lambda: eng.bool_topk(BOOL_QS, k=4, from_=3))
    _assert_pages(got, {q: _ref_bool(ref, s) for q, s in BOOL_QS}, 4, from_=3)
    got = _both(wand_sides, lambda: eng.topk_distributed(
        AND_QS, k=3, min_match="all", from_=2))
    _assert_pages(got, {q: _ref_match(ref, t, "all") for q, t in AND_QS}, 3, 2)


def _pages(run, qid: int, size: int) -> list[tuple[int, float]]:
    """Follow search_after cursors until a page comes back empty."""
    seen, cursor = [], None
    while True:
        rows = _rows(run(size, None if cursor is None else {qid: cursor}))
        if not rows:
            return seen
        assert [r[1] for r in rows] == list(range(1, len(rows) + 1))
        seen += [(d, s) for _q, _r, d, s in rows]
        cursor = (rows[-1][3], rows[-1][2])


def test_search_after_paging_is_exact(wand_sides, plain):
    eng, _ref = plain
    spec = dict(BOOL_QS[0:1])
    for _side in wand_sides():
        full = [(d, s) for _q, _r, d, s in _rows(
            eng.bool_topk(list(spec.items()), k=1000))]
        paged = _pages(lambda n, after: eng.bool_topk(
            list(spec.items()), k=n, search_after=after), 1, 4)
        assert paged == full and len(full) > 8  # no gaps, no repeats
        full = [(d, s) for _q, _r, d, s in _rows(eng.topk_distributed(
            [(2, "beta gamma w3")], k=1000, min_match=2))]
        paged = _pages(lambda n, after: eng.topk_distributed(
            [(2, "beta gamma w3")], k=n, min_match=2, search_after=after), 2, 3)
        assert paged == full and len(full) > 6
        # filter-only (all scores 0): the doc_id tie-break pages too
        full = [(d, s) for _q, _r, d, s in _rows(
            eng.bool_topk([(3, {"filter": "gamma"})], k=1000))]
        paged = _pages(lambda n, after: eng.bool_topk(
            [(3, {"filter": "gamma"})], k=n, search_after=after), 3, 7)
        assert paged == full and len(full) > 14


def test_delta_and_tombstones(wand_sides, mutated):
    eng, ref = mutated
    assert len(eng.dirs) == 2 and eng.kills
    got = _both(wand_sides, lambda: eng.bool_topk(BOOL_QS, k=9))
    _assert_pages(got, {q: _ref_bool(ref, s) for q, s in BOOL_QS}, 9)
    got = _both(wand_sides, lambda: eng.topk_distributed(
        AND_QS, k=6, min_match="all"))
    _assert_pages(got, {q: _ref_match(ref, t, "all") for q, t in AND_QS}, 6)
    got = _both(wand_sides, lambda: eng.topk_wand(MSM_QS, k=6, min_match=2))
    _assert_pages(got, {q: _ref_match(ref, t, 2) for q, t in MSM_QS}, 6)


def test_structured_or_tracked_bool_keeps_the_hash_agg_path(plain, monkeypatch):
    """A batch with a structured filter clause, a rich spec or
    track_total_hits is not answered by WAND."""
    eng, _ref = plain

    def no_wand(self, *a, **kw):
        pytest.fail("bool_topk ran the WAND executor")

    monkeypatch.setattr(QueryEngine, "_wand_run", no_wand)
    eng.bool_topk([(1, {"must": "alpha"})], k=3, track_total_hits=True).collect()
    eng.bool_topk([(1, {"must": [{"match": "alpha"}]})], k=3).collect()


def test_empty_page_runs_no_spark_job(spark, plain):
    """A coordinator answer with no hits (an `and` token absent from
    the corpus) collects without starting a Spark job."""
    eng, _ref = plain
    sc = spark.sparkContext
    try:
        sc.setJobGroup("empty-page", "empty coordinator page")
        assert eng.topk_distributed(
            [(1, "alpha zzzabsent")], k=5, min_match="all").collect() == []
        assert sc.statusTracker().getJobIdsForGroup("empty-page") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_page_reads_run_no_spark_job(spark, plain, wand_sides):
    """A non-empty coordinator answer (an ES ``match`` body and a
    ``bool`` batch) is read with collect, toPandas and count without
    starting a Spark job; the Spark side returns the same rows."""
    eng, _ref = plain
    sc = spark.sparkContext
    got = {}
    for side in wand_sides():
        pages = [
            es_search(eng, {"query": {"match": {"text": "alpha gamma"}}, "size": 5}),
            eng.bool_topk(BOOL_QS[:2], k=4),
        ]
        if side == "spark":
            got[side] = [_rows(p) for p in pages]
            continue
        try:
            sc.setJobGroup("page-reads", "coordinator page reads")
            got[side] = [_rows(p) for p in pages]
            for p, rows in zip(pages, got[side]):
                pdf = p.toPandas()
                assert rows and p.count() == len(pdf) == len(rows)
            assert sc.statusTracker().getJobIdsForGroup("page-reads") == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert got["coordinator"] == got["spark"]
