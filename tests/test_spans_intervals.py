"""Round-6 span_or / span_not / intervals: positional semantics vs a
brute-force python twin over engineered token layouts, plus the DSL
routes and validation."""

import itertools
import math

import numpy as np
import pandas as pd
import pytest

from xml_to_es_spark.config import IndexConfig
from xml_to_es_spark.operators.es_query import es_search
from xml_to_es_spark.operators.index_build import IndexBuilder
from xml_to_es_spark.operators.query_engine import QueryEngine
from xml_to_es_spark.pyref import tokenize

# token layouts chosen to hit every branch: adjacent pairs, gapped
# pairs (1..3 gaps), reordered pairs, exclude-overlap shapes
DOCS = [
    "a b c pad0",                 # adjacent a b; "quick fox" shape absent
    "a x b pad1",                 # one gap
    "a x y b pad2",               # two gaps
    "b a pad3",                   # reversed
    "q a b pad4",                 # "q a" precedes "a b" (overlap case)
    "a b q pad5",                 # exclude after
    "c a x b c pad6",             # gapped + c alternative
    "a pad7",                     # lone a
    "c pad8",                     # lone c
    "q a x b pad9",               # q a overlaps gapped a..b? q a spans [0,2)
]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    pdf = pd.DataFrame({"doc_id": range(len(DOCS)), "text": DOCS})
    idx = str(tmp_path_factory.mktemp("spans") / "idx")
    IndexBuilder(spark, IndexConfig(
        n_groups=2, store_positions=True,
    )).build(spark.createDataFrame(pdf), idx)
    return QueryEngine(spark, idx), pdf


def _positions(text, tok):
    return [i for i, t in enumerate(tokenize(text)) if t == tok]


def _phrase_occs(text, seq):
    toks = tokenize(text)
    return [s for s in range(len(toks) - len(seq) + 1)
            if toks[s:s + len(seq)] == seq]


def _bm25(pdf, doc, terms):
    n = len(pdf)
    toks = {r.doc_id: tokenize(r.text) for r in pdf.itertuples()}
    avgdl = sum(len(t) for t in toks.values()) / n
    s = 0.0
    for t in sorted(set(terms)):
        df = sum(1 for ts in toks.values() if t in ts)
        tf = toks[doc].count(t)
        s += math.log(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 / (
            tf + 1.2 * (1 - 0.75 + 0.75 * len(toks[doc]) / avgdl))
    return s


def test_span_or(eng):
    """Union of alternatives, dis_max scored."""
    e, pdf = eng
    out = es_search(e, {"query": {"span_or": {"clauses": [
        {"span_near": {"clauses": [{"span_term": {"text": "a"}},
                                   {"span_term": {"text": "b"}}],
                       "in_order": True, "slop": 0}},
        {"span_term": {"text": "c"}},
    ]}}, "size": 20}).toPandas()
    want = {}
    for r in pdf.itertuples():
        ss = []
        if _phrase_occs(r.text, ["a", "b"]):
            ss.append(_bm25(pdf, r.doc_id, ["a", "b"]))
        if _positions(r.text, "c"):
            ss.append(_bm25(pdf, r.doc_id, ["c"]))
        if ss:
            want[r.doc_id] = max(ss)
    rows = sorted(want.items(), key=lambda x: (-x[1], x[0]))
    assert list(out.doc_id) == [d for d, _ in rows]
    np.testing.assert_allclose(out.score, [s for _, s in rows], rtol=1e-9)


def test_span_not(eng):
    """Include occurrences minus those overlapped by an exclude-span
    occurrence (ES pre/post 0)."""
    e, pdf = eng
    # include "a b", exclude "q a": doc 4 has q a b — the q a span
    # [0,2) overlaps the a b span [1,3) → excluded; doc 0/5 keep
    out = es_search(e, {"query": {"span_not": {
        "include": {"span_near": {"clauses": [
            {"span_term": {"text": "a"}}, {"span_term": {"text": "b"}}],
            "in_order": True, "slop": 0}},
        "exclude": {"span_near": {"clauses": [
            {"span_term": {"text": "q"}}, {"span_term": {"text": "a"}}],
            "in_order": True, "slop": 0}},
    }}, "size": 20}).toPandas()

    def twin(doc, text):
        incs = _phrase_occs(text, ["a", "b"])
        excs = _phrase_occs(text, ["q", "a"])
        keep = [s for s in incs
                if not any(s < se + 2 and se < s + 2 for se in excs)]
        return bool(keep)

    want = sorted(r.doc_id for r in pdf.itertuples()
                  if twin(r.doc_id, r.text))
    assert sorted(out.doc_id) == want and 4 not in want and 0 in want
    # single-term include, multi-term exclude: foxes not preceded by q
    out2 = es_search(e, {"query": {"span_not": {
        "include": {"span_term": {"text": "a"}},
        "exclude": {"span_near": {"clauses": [
            {"span_term": {"text": "q"}}, {"span_term": {"text": "a"}}],
            "in_order": True, "slop": 0}},
    }}, "size": 20}).toPandas()

    def twin2(text):
        incs = _positions(text, "a")
        excs = _phrase_occs(text, ["q", "a"])
        return any(not any(s < se + 2 and se < s + 1 for se in excs)
                   for s in incs)

    want2 = sorted(r.doc_id for r in pdf.itertuples() if twin2(r.text))
    assert sorted(out2.doc_id) == want2
    assert 4 not in want2 and 9 not in want2 and 0 in want2


def test_intervals(eng):
    """Ordered intervals with max_gaps — brute-force ordered-chain
    twin over every position combination."""
    e, pdf = eng

    def twin(text, seq, gaps):
        plists = [_positions(text, t) for t in seq]
        if any(not p for p in plists):
            return False
        for combo in itertools.product(*plists):
            if all(a < b for a, b in zip(combo, combo[1:])) and (
                    combo[-1] - combo[0] + 1 - len(seq) <= gaps):
                return True
        return False

    for gaps in (0, 1, 2):
        out = es_search(e, {"query": {"intervals": {"text": {"match": {
            "query": "a b", "max_gaps": gaps, "ordered": True,
        }}}}, "size": 20}).toPandas()
        want = sorted(r.doc_id for r in pdf.itertuples()
                      if twin(r.text, ["a", "b"], gaps))
        assert sorted(out.doc_id) == want, gaps
        for r in out.itertuples():  # pinned phrase-BM25 scoring
            assert abs(r.score - _bm25(pdf, r.doc_id, ["a", "b"])) < 1e-9
    # ordered: the reversed doc 3 never matches
    assert 3 not in set(es_search(e, {"query": {"intervals": {"text": {
        "match": {"query": "a b", "max_gaps": 9, "ordered": True,
                  }}}}, "size": 20}).toPandas().doc_id)
    # three-term chain with shared budget
    out3 = es_search(e, {"query": {"intervals": {"text": {"match": {
        "query": "c a c", "max_gaps": 2, "ordered": True,
    }}}}, "size": 20}).toPandas()
    want3 = sorted(r.doc_id for r in pdf.itertuples()
                   if twin(r.text, ["c", "a", "c"], 2))
    assert sorted(out3.doc_id) == want3 and want3 == [6]


def test_span_intervals_validation(eng):
    e, _pdf = eng
    with pytest.raises(ValueError, match="ordered=false"):
        es_search(e, {"query": {"intervals": {"text": {"match": {
            "query": "a b", "ordered": False}}}}, "size": 3})
    with pytest.raises(ValueError, match="match rule"):
        es_search(e, {"query": {"intervals": {"text": {"all_of": {}}}},
                      "size": 3})
    with pytest.raises(ValueError, match="clauses"):
        es_search(e, {"query": {"span_or": {"clauses": []}}, "size": 3})
    with pytest.raises(ValueError, match="include"):
        es_search(e, {"query": {"span_not": {
            "include": {"span_term": {"text": "a"}}}}, "size": 3})


def test_intervals_any_of(eng):
    """any_of over match rules sharing one gap budget: matched = any
    branch, score = max over matching branches' term-BM25 sums."""
    e, pdf = eng

    def one(text, seq, gaps):
        plists = [_positions(text, t) for t in seq]
        if any(not p for p in plists):
            return False
        for combo in itertools.product(*plists):
            if all(a < b for a, b in zip(combo, combo[1:])) and (
                    combo[-1] - combo[0] + 1 - len(seq) <= gaps):
                return True
        return False

    body = {"query": {"intervals": {"text": {"any_of": {"intervals": [
        {"match": {"query": "a b", "max_gaps": 1, "ordered": True}},
        {"match": {"query": "c a", "max_gaps": 1, "ordered": True}},
    ]}}}}, "size": 20}
    out = es_search(e, body).toPandas()
    want = {}
    for r in pdf.itertuples():
        ss = []
        if one(r.text, ["a", "b"], 1):
            ss.append(_bm25(pdf, r.doc_id, ["a", "b"]))
        if one(r.text, ["c", "a"], 1):
            ss.append(_bm25(pdf, r.doc_id, ["c", "a"]))
        if ss:
            want[r.doc_id] = max(ss)
    rows = sorted(want.items(), key=lambda x: (-x[1], x[0]))
    assert list(out.doc_id) == [d for d, _ in rows] and rows
    np.testing.assert_allclose(out.score, [s for _, s in rows], rtol=1e-9)
    with pytest.raises(ValueError, match="share one max_gaps"):
        es_search(e, {"query": {"intervals": {"text": {"any_of": {
            "intervals": [
                {"match": {"query": "a b", "max_gaps": 1, "ordered": True}},
                {"match": {"query": "c a", "max_gaps": 2, "ordered": True}},
            ]}}}}, "size": 5})


def test_nested_inner_hits(spark, tmp_path_factory):
    """Top-level nested with inner_hits: each hit carries the array of
    matching objects (the DataFrame adaptation of ES inner_hits)."""
    from xml_to_es_spark.config import IndexConfig
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    pdf = pd.DataFrame({
        "doc_id": range(12),
        "text": [f"alpha w{i}" for i in range(12)],
    })
    docs = (spark.createDataFrame(pdf)
            .withColumn("tags", __import__("pyspark.sql.functions",
                                           fromlist=["expr"]).expr(
        "transform(sequence(0, cast(doc_id % 3 as int)), j -> "
        "named_struct('k', cast((doc_id + j) % 4 as long)))")))
    idx = str(tmp_path_factory.mktemp("ih") / "idx")
    IndexBuilder(spark, IndexConfig(
        n_groups=1, stored_fields=("tags",))).build(docs, idx)
    e = QueryEngine(spark, idx)
    out = es_search(e, {"query": {"nested": {
        "path": "tags", "score_mode": "sum", "inner_hits": {},
        "query": {"range": {"tags.k": {"gte": 2}}}}}, "size": 12}
    ).toPandas()
    assert "inner_hits" in out.columns and len(out) > 0
    for r in out.itertuples():
        objs = [{"k": (r.doc_id + j) % 4} for j in range(r.doc_id % 3 + 1)]
        want = [o for o in objs if o["k"] >= 2]
        got = [{"k": o["k"]} for o in r.inner_hits]
        assert got == want and len(want) == int(r.score)
    with pytest.raises(ValueError, match="inner_hits takes an empty"):
        es_search(e, {"query": {"nested": {
            "path": "tags", "inner_hits": {"size": 2},
            "query": {"range": {"tags.k": {"gte": 2}}}}}, "size": 3})


def test_positional_queries_rejected_before_any_job(spark, tmp_path):
    """On an index built without positions every positional query
    kind raises ValueError on the driver before a Spark job starts
    (it used to fail inside a Python worker, mid-job)."""
    pdf = pd.DataFrame({"doc_id": range(len(DOCS)), "text": DOCS})
    idx = str(tmp_path / "nopos")
    IndexBuilder(spark, IndexConfig(n_groups=2)).build(
        spark.createDataFrame(pdf), idx
    )
    e = QueryEngine(spark, idx)
    calls = {
        "phrase": lambda: e.phrase_topk([(1, "a b")]),
        "phrase_prefix": lambda: e.phrase_prefix_topk([(1, "a b")]),
        "span_or": lambda: e.span_or_topk([(1, ["a b", "c"])]),
        "span_not": lambda: e.span_not_topk([(1, ("a", "q a"))]),
        "intervals": lambda: e.intervals_topk([(1, "a b")], max_gaps=1),
        "intervals_any": lambda: e.intervals_any_topk([(1, ["a b", "c a"])]),
        "bool_phrase_leaf": lambda: e.bool_topk([(1, {
            "must": [{"match_phrase": {"query": "a b"}}],
            "should": [{"match": "c"}]})]),
    }
    sc = spark.sparkContext
    try:
        for name, call in calls.items():
            sc.setJobGroup(f"positional-{name}", name)
            with pytest.raises(ValueError, match="store_positions"):
                call().collect()
            assert sc.statusTracker().getJobIdsForGroup(
                f"positional-{name}") == [], name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the index still answers non-positional queries
    assert e.topk_wand([(1, "a b")], k=3).count() == 3
